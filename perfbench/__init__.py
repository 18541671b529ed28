"""Seeded, oracle-checked benchmark of the webextract engine.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` builds a corpus from the seed, drives one workload
through the package's public entry points on ``local[nproc]``, checks
every output row against the single-process oracle, and prints one JSON
result as the last line of standard output. See ``perfbench/README.md``.
"""
