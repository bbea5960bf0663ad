"""Repository benchmark: file migration, Qdrant round trip and a curation
slice, timed end to end with a traced per-layer split.

Run from the repository root::

    python3 perfbench/run.py --workload migrate_file --seed 1 --seconds 10 --trace 0
"""
