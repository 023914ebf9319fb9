"""Disk-backed local checkpoints for iterative operators.

Iterative queries (connected components, pagerank/HITS/Katz, k-core
peeling, IPF raking, ...) truncate plan lineage every round with
`localCheckpoint` — without it the logical plan doubles per iteration
and analysis cost explodes.  But localCheckpoint's default storage
level keeps every round's blocks pinned in executor storage memory
until the driver garbage-collects the superseded DataFrame: at sf10
the part co-purchase graph's per-round edge sets accumulated past an
8g heap and took the whole JVM down (round-7 sf10 sweep find).

`DISK` (StorageLevel.DISK_ONLY) is the storage level every checkpoint
in the package passes, as `df.localCheckpoint(eager=...,
storageLevel=DISK)`: identical lineage-truncation semantics, blocks on
local disk instead of heap.  Rounds then cost one sequential local
write/read each — negligible next to the round's shuffle — and memory
stays flat in the number of iterations, which is the behavior a
1000-executor job needs (a superseded round's blocks must never
compete with the live round's execution memory).
"""

from __future__ import annotations

from pyspark import StorageLevel

# Imported as `_DISK` by every query module that checkpoints:
#   df.localCheckpoint(eager=..., storageLevel=_DISK)
DISK = StorageLevel.DISK_ONLY
