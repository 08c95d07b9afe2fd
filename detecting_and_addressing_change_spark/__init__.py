"""PySpark-native analytics engine with the query and data-processing
capabilities of ``BogdanFloris/detecting-and-addressing-change``.

The reference (see SURVEY.md) is a single-process streaming concept-drift
pipeline; this package rebuilds the same computations Spark-first:

- ``sources``    — table loaders / schemas (SURVEY §2.1)
- ``functions``  — scalar/array/text expression builders (SURVEY §2.2)
- ``operators``  — relational + stateful operators (SURVEY §2.3–2.6),
                   LLM-data-pipeline extensions (dedup, similarity, text
                   analysis, multimodal)
- ``queries``    — the declared oracle-query surface (SURVEY §2.8)
- ``streaming``  — Structured Streaming wiring (DDM, prequential loop)
"""

# installed wherever package code is unpickled, i.e. in every Python worker
from . import zipimport_cache  # noqa: F401

__version__ = "0.1.0"
