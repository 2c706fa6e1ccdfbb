"""J1 — idempotent dedup-on-insert (the reference's
``skip-duplicates-with``).

Reference behaviour (src/oracle_target.py:97-104; README.md:132-137): each
inserted row is suppressed when a row with the same values in the
configured column set already exists in the target — an insert-time
``NOT EXISTS``. Because the reference's executemany runs row-by-row inside
one transaction, duplicates *within* the incoming batch are suppressed
too (only the first survives). This is the engine's exactly-once
backstop: re-runs re-read the log and write 0 new rows (laws 4/5,
test_integration.py:214-237, 363-410).

Spark design: LEFT ANTI join against the sink's key set, then
``dropDuplicates`` on the survivors. Both decisions depend on the key
alone, so the order does not change the result, and the dedup aggregate
(a sort-based aggregate over string columns) only sorts rows that are
not in the sink already. Catalyst makes the same swap on its own
(``PushDownLeftSemiAntiJoin``); the code states the executed order. At
100 TB: the anti-join shuffles both sides on the dedup key unless the
existing side fits the broadcast threshold — for incremental loads the
"existing keys in the affected window" are pruned by the delta watermark
before the join, keeping the right side broadcastable; for full-history
dedup, bucketing the sink table by the key makes the anti-join
shuffle-free on the sink side.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_against_existing(
    batch: DataFrame,
    existing: Optional[DataFrame],
    keys: Sequence[str],
    broadcast_existing: bool = True,
) -> DataFrame:
    """Rows of ``batch`` whose ``keys`` do not already occur in
    ``existing``, with within-batch duplicates collapsed. ``existing`` may
    be None (first load).

    ``broadcast_existing`` FORCES a broadcast hint — only safe when the
    caller knows the existing side is bounded (a watermark-pruned window,
    a dimension table). For an unbounded side (a sink's full key set over
    time) pass False: the hint would override Spark's size checks and OOM
    the executors eventually, while AQE's dynamic join selection already
    broadcasts a measured-small side without being forced."""
    keys = list(keys)
    if existing is None:
        return batch.dropDuplicates(keys)
    # No dropDuplicates on the existing side: LEFT ANTI semantics are
    # insensitive to duplicate keys on the right, and deduplicating there
    # costs a full hash shuffle of the sink's key set. The broadcast
    # HashedRelation dedups keys at build time for free; in the
    # sort-merge case the join itself only probes key existence.
    existing_keys = existing.select(*keys)
    if broadcast_existing:
        existing_keys = F.broadcast(existing_keys)
    return batch.join(existing_keys, on=keys, how="left_anti").dropDuplicates(keys)
