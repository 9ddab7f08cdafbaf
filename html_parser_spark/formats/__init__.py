"""Per-format parse kernels (pure Python, per-document).

Each format parser is a pure function ``bytes -> dict`` run inside the
Arrow row UDF (``html_parser_spark.spark.pipeline``); nothing here
touches Spark.  Format detection is a cheap string probe of the document head
— see ``detect.py``.
"""

from html_parser_spark.formats.detect import detect_format  # noqa: F401
