"""glm_ocr_spark: PySpark-native main-content extraction engine.

A regular package (not a namespace package) so zipimport deployments
(`spark-submit --py-files glm_ocr_spark.zip`) can load bundled data
resources (wordfreq_snapshot_data.txt) through importlib.resources.
"""

__all__ = [
    "config",
    "config_loader",
    "pipeline",
    "snapshot",
    "wordfreq_snapshot",
]
