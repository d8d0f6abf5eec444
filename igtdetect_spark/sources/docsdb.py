"""SQLite ``docs`` side-table source (reference `testdb`,
igtdetect.py:1496-1549): select doc_ids with ``posprob > 0.5``, match
them against the corpus, run detection on the matches.

The reference polls a SQLite file with a 30 s retry loop because external
writers contend on it; under Spark the driver reads it once (stdlib
sqlite3 — no JDBC jar needed for a KB-scale dimension table), pushes the
``posprob`` filter into the SQL, and broadcasts the resulting doc-id set
into an equi-join (SURVEY §2.3 docs-db × filesystem join). A true JDBC
DSv2 scan with automatic pushdown is the drop-in for server databases.
"""

from __future__ import annotations

import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_docs_db(
    spark: SparkSession,
    db_path: str,
    posprob_threshold: float = 0.5,
) -> DataFrame:
    """docs(doc_id, posprob) rows with posprob > threshold — the filter is
    pushed into the source query (the Spark-side analogue of JDBC filter
    pushdown)."""
    con = sqlite3.connect(db_path)
    try:
        rows = con.execute(
            "SELECT doc_id, posprob FROM docs WHERE posprob > ?",
            (posprob_threshold,),
        ).fetchall()
    finally:
        con.close()
    return spark.createDataFrame(rows, "doc_id string, posprob double")


def pages_matching_docs_db(pages: DataFrame, docs: DataFrame) -> DataFrame:
    """Inner equi-join pages × broadcast(docs) on doc_id (reference regex
    match of doc_ids to ``*.freki(.gz)`` files, igtdetect.py:1534-1544).
    A page's doc id is its url's basename up to the first dot — the
    reference's ``_path_rename`` regex ``(^.*?)\\.``."""
    url_to_doc_id = F.regexp_extract(
        F.element_at(F.split(F.col("url"), "/"), -1), r"(^.*?)\.", 1
    )
    with_id = pages.withColumn("doc_id", url_to_doc_id)
    return with_id.join(
        F.broadcast(docs.select("doc_id")), "doc_id", "inner"
    ).drop("doc_id")
