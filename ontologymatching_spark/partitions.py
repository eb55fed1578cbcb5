"""Scale-adaptive partition counts for compute-dense stages.

Two recurring local-layout/AQE interactions motivate explicit partitioning
(guide §2):

1. Single-file tables (one row group = one scan split) give parallelism 1
   to every plan whose downstream joins are all broadcast — a round-robin
   repartition of the narrow base rows buys full-core parallelism for the
   pair kernels downstream (benchqueries._fan).
2. AQE's byte-targeted partition coalescing collapses tiny-but-CPU-heavy
   shuffles (array cosines, per-group kernels) onto a handful of tasks;
   an explicit keyed repartition pins the parallelism, because
   user-specified repartitions are exempt from AQE coalescing.

The count derives from the session's advertised parallelism — never a
local constant. On a real cluster with multi-file tables and byte-heavy
shuffles both fixes are cheap no-ops (the exchanges stay ~row-count bytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_parts(df: DataFrame) -> int:
    return 2 * df.sparkSession.sparkContext.defaultParallelism
