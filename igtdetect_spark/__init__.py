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


def __getattr__(name):  # lazy public API (keeps pyspark import off the cold path)
    api = {
        "build_session": ("igtdetect_spark.session", "build_session"),
        "DetectContext": ("igtdetect_spark.plans.pipeline", "DetectContext"),
        "detect_spans_fused": ("igtdetect_spark.plans.pipeline", "detect_spans_fused"),
        "classify_lines_fused": ("igtdetect_spark.plans.pipeline", "classify_lines_fused"),
        "load_model": ("igtdetect_spark.refmodel", "load_model"),
        "save_model": ("igtdetect_spark.refmodel", "save_model"),
        "load_reference_model": ("igtdetect_spark.refmodel", "load_reference_model"),
        "PipelineConfig": ("igtdetect_spark.config", "PipelineConfig"),
        "DEFAULT_CONFIG": ("igtdetect_spark.config", "DEFAULT_CONFIG"),
    }
    if name in api:
        import importlib

        mod, attr = api[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(name)
