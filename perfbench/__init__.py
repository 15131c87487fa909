"""Layered benchmark for glm_ocr_spark: seeded workloads, end-to-end cost
metrics and per-layer Spark and kernel-stage metrics. Entry point:
`python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>` from the repository root."""
