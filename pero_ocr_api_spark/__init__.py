"""pero_ocr_api_spark — a PySpark-native extraction/analytics engine
with the query and data-processing capabilities of the reference
document-OCR job-queue service (LachubCz/pero-ocr-api), re-expressed
Spark-first over interleaved text+media span tables.

Layout:
- constants.py   shared semantic constants (engine + all oracles)
- session.py     tuned SparkSession builder
- synth.py       deterministic interleaved-documents synthesis (+SQL twin)
- oracle.py      single-threaded pure-Python golden oracle
- operators/     inference (arrow_udf, mapInPandas), normalize, serialize
- plans/         end-to-end pipeline, checkpoint/resume, lineage
- functions/     main-content extraction, CDC merge / SCD2
- queries/       control-plane query library (SURVEY §2.2-§2.7)
- streaming/     Structured Streaming (availableNow) variant
"""

__version__ = "0.1.0"
