"""The ``pages`` input table (driver input_hint shape).

``pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING)`` — Common-Crawl-style. In production this is an Iceberg
table; here parquet stands in (same columnar scan path, same pushdown
semantics). Helpers synthesize the deterministic test corpus and adapt the
driver's ``documents`` table into the pages shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .parquet import read_parquet

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """The pages table at ``path`` (a parquet file or directory), read
    with the session's cached schema once the table has been read
    unchanged before; a path that cannot be stat'ed is read with schema
    inference every time (:func:`.parquet.read_parquet`)."""
    return read_parquet(spark, path)


def glob_paths(pattern: str) -> list[str]:
    """Expand a glob, descending one level into matched directories;
    error on empty (reference globfiles, igtdetect.py:1412-1426)."""
    import glob as _glob
    import os

    g = _glob.glob(pattern)
    if not g:
        raise FileNotFoundError(
            f'No files found matching pattern "{pattern}".'
        )
    paths: list[str] = []
    for p in g:
        if os.path.isdir(p):
            paths.extend(os.path.join(p, x) for x in sorted(os.listdir(p)))
        else:
            paths.append(p)
    return paths


def synthetic_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    html_every: int = 5,
    mega_doc_every: int = 0,
    mega_doc_lines: int = 100_000,
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic corpus as a pages DataFrame (FIXTURES.md §1).

    Generation is distributed: doc indices are parallelized and each
    partition builds its own documents (the per-doc RNG is seeded by doc
    index, so placement doesn't affect content).
    """
    from ..oracle.corpus import corpus_rows, make_doc

    n_partitions = n_partitions or max(2, min(64, n_docs // 8 or 2))
    sc = spark.sparkContext

    def build(idx_iter):
        for i in idx_iter:
            mega = mega_doc_every and i > 0 and i % mega_doc_every == 0
            d = make_doc(
                i,
                seed=seed,
                as_html=bool(html_every and i % html_every == 1) and not mega,
                lines_target=mega_doc_lines if mega else None,
            )
            yield corpus_rows([d])[0]

    rdd = sc.parallelize(range(n_docs), n_partitions).mapPartitions(build)
    return spark.createDataFrame(rdd, PAGES_SCHEMA)


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's ``documents`` test table (doc_id, text, lang,
    source, n_chars) into the pages shape — used by the flagship entry."""
    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


# Deterministic IGT instances planted into driver documents so the span
# detector has real work over the TPC-H-ish corpus (documents.text is
# word-salad with no IGT). Chosen by doc_id % 3; every 4th doc gets none.
_IGT_BLOCKS = [
    "(1)   Russian example:\n"
    "(1)      kard-e   žena   ʃto\n"
    "          tie_up-PERF   leg-PL-1SG   what-2SG\n"
    "          ‘They sent me.’",
    "(2)   Cypriot Greek example:\n"
    "(2)       другой   книга   пишу\n"
    "           love-2SG   ERG.DET   1SG.PRON\n"
    "           ‘His legs were tied up.’",
    "(3)   French example:\n"
    "(3)       tlɨ-kato   kono   père\n"
    "           NOM-DAT   send-3_PL   ACC\n"
    "           ‘What did you tie up?’",
]


def pages_with_planted_igt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pages with a deterministic IGT block appended to 3 of
    every 4 docs (selected by doc_id) — gives the detect-spans query
    non-trivial, reproducible output over the driver tables."""
    pages = pages_from_documents(spark, sf_dir)
    doc_id = F.regexp_extract("url", r"doc://(\d+)", 1).cast("long")
    block = (
        F.when(doc_id % 4 == 3, F.lit(None).cast("string"))
        .when(doc_id % 3 == 0, F.lit(_IGT_BLOCKS[0]))
        .when(doc_id % 3 == 1, F.lit(_IGT_BLOCKS[1]))
        .otherwise(F.lit(_IGT_BLOCKS[2]))
    )
    new_text = F.when(
        block.isNull(), F.col("text")
    ).otherwise(
        F.concat(
            F.col("text"), F.lit("\n\n"), block,
            # trailing prose so the span is not EOF-open (reference quirk
            # drops unflushed EOF spans)
            F.lit("\n\nThe data in this section were collected during fieldwork."),
        )
    )
    return pages.withColumn("text", new_text)
