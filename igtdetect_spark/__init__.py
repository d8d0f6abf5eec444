"""igtdetect_spark — a from-scratch PySpark-native IGT-detection / text-
extraction analytics engine with the query and data-processing capabilities
of the reference xigt/igtdetect pipeline (see SURVEY.md).

Layout
------
- ``config``     : pipeline configuration (feature gates, thresholds, label opts)
- ``refmodel``   : classifier-weight extraction from the reference pickle
- ``oracle``     : pure-Python single-node reference semantics (test oracle)
- ``sources``    : pages / parquet / WARC / SQLite docs-table readers
- ``operators``  : Spark DataFrame operators (segment, features, score, spans,
                   eval, dedup, similarity, text analysis, multimodal)
- ``plans``      : end-to-end pipelines (detect, train) with checkpoint/resume
"""

__version__ = "0.1.0"

