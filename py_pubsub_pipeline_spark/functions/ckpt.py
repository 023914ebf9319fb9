"""The one checkpoint every iterative or multi-consumer query uses.

Iterative queries (connected components, pagerank/HITS/Katz, k-core
peeling, IPF raking, ...) truncate plan lineage every round with a
local checkpoint: without it the logical plan doubles per iteration
and analysis cost explodes.  Non-iterative queries checkpoint a frame
that several branches of the final plan read, so it is computed once.

Policy: every checkpoint in the package is `checkpoint(df)`, a lazy
`localCheckpoint` to local disk.  There is no per-site choice left.

- Lazy, not eager.  An eager checkpoint runs one extra job just to
  materialize the frame; lazily, the frame is written by the first
  action that reads it.  Convergence loops read their per-round
  counts straight off the lazily checkpointed frame: that count is
  the action which writes it, and later reads hit the stored blocks.
  Under AQE a "lazy" `localCheckpoint` is lazier in name than in
  fact: building the checkpoint executes the physical plan, and AQE
  runs all of the plan's shuffle stages there and then, so only the
  final stage waits for the action.  (`graph_label_prop` at sf0.01
  launches 21 jobs while its DataFrame is built and 2 in the
  action.)  A build/action timing split therefore counts most of a
  checkpointing query's execution as build time.
- DISK_ONLY, not the default storage level.  The default keeps every
  round's blocks pinned in executor storage memory until the driver
  garbage-collects the superseded DataFrame: at sf10 the part
  co-purchase graph's per-round edge sets accumulated past an 8g heap
  and took the whole JVM down.  On disk a round costs one sequential
  local write and read, small next to the round's shuffle, and memory
  stays flat in the number of iterations.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def checkpoint(df: DataFrame) -> DataFrame:
    """`df` with its lineage cut, stored on local disk when first read.

    In method chains: `.transform(checkpoint)`."""
    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
