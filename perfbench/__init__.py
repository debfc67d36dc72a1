"""Closed-loop benchmark of the KG pipeline and the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload kg_open_vocab --seed 1 --seconds 15 --trace 0

See ``run.py`` for the output contract.
"""
