"""quickwit_spark — a from-scratch PySpark-native full-text index + BM25 engine.

A rebuild of the query/data-processing capabilities of the reference
Quickwit snapshot (/root/reference, studied in SURVEY.md): inverted-index
build pipeline (tokenize → per-segment postings → split merge → publish,
with checkpoints/lineage) and query engine (boolean/phrase parsing, split
pruning, posting intersection, BM25 top-k with block-max skipping), all as
DataFrame transforms + vectorized numpy/Arrow UDFs.  Not a port: Catalyst
does pruning/shuffle/top-k; the index data structures live as Parquet
tables.
"""

__version__ = "0.1.0"

# Applied at import time so every python worker that runs our UDFs (and the
# driver) gets arena-retention malloc — see mem.py for why this matters on
# hosts with slow first-touch page faults.
from quickwit_spark.mem import tune_allocator as _tune_allocator

_tune_allocator()

# Applied at import time for the same reason: stop every reused python
# worker from re-reading its zip archives before each task — see
# zipguard.py.
from quickwit_spark.zipguard import install as _install_zipguard

_install_zipguard()
