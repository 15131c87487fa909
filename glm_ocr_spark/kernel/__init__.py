"""Per-turn extraction kernel.

Pure Python/numpy — no Spark imports — so the same code runs inside
`mapInArrow` batches on executors and in local unit tests. The Spark layer
(glm_ocr_spark.pipeline) is a thin distributed shell around
:func:`glm_ocr_spark.kernel.extract.extract_turn`.
"""

from glm_ocr_spark.kernel.extract import extract_turn  # noqa: F401
