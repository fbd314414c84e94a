"""Beyond-reference scale-operator queries (BASELINE.json north star):
dedup, similarity search, text analysis, multimodal plumbing, event-time
windows — each with a DuckDB oracle built on the same portable hash folds.

The DuckDB snippets mirror the Spark expressions *structurally* (same
fold order, same modulus, same slicing) so double/hash results are
bit-identical — see functions/exact.py for why order matters.

This module loads the family: the implementation lives in
queries_scale_part1..4 (split in r9 when the single file passed 14k
lines), and shared helpers are in queries_scale_common.py. Import a
helper from the module that defines it. Import order does not matter:
``registry.queries()`` is ordered from the stamp ledger, not by
registration.
"""

from . import (queries_scale_part1, queries_scale_part2,  # noqa: F401
               queries_scale_part3, queries_scale_part4)
