"""Repository benchmark: seeded workloads over the gdal_spark engine.

`run.py` is the command; `layer_diff.py` compares two traced runs.
NOTES.md records measured facts about this benchmark and the engine.
"""
