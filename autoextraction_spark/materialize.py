"""The engine's one lineage cut: every derived table that an operator or
query materializes once (a table feeding several plan branches, an
iterative loop's per-round state) goes through ``ckpt``. Eager checkpoints
write now, so a loop's convergence probe reads the checkpoint instead of
re-running the round; ``level=None`` keeps Spark's default local-checkpoint
level (memory and disk, deserialized)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def ckpt(
    df: DataFrame, eager: bool = False, level: StorageLevel | None = StorageLevel.DISK_ONLY
) -> DataFrame:
    """Local checkpoint of ``df`` at ``level`` (None: Spark's default)."""
    return df.localCheckpoint(eager=eager, storageLevel=level)
