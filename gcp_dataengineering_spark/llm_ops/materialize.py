"""One pin rule for iterative / self-join operators.

The dedup / LSH / connected-components family must eagerly pin
expensive intermediates (shingle tables, minhash signatures, CC edge
lists and per-round labels): both sides of a self-join re-run the
producing lineage otherwise (ReuseExchange does not fire across a
BroadcastExchange), and an iterative loop's plan doubles per round
without truncation.

``materialize(df, pin)``:

- ``False`` returns ``df`` unchanged (the caller owns caching);
- ``None`` or ``True`` pins eagerly: a reliable ``checkpoint`` when
  the session has a checkpoint directory, else ``localCheckpoint``.

Durability is the deployment's statement, not an option here: a job
whose pins must survive executor loss sets
``spark.sparkContext.setCheckpointDir(<HDFS/S3/GCS path>)``; without
one, pins are executor-storage blocks, the fastest form on a single
JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, pin: bool | None = None) -> DataFrame:
    """Pin ``df`` per the module rule; any other ``pin`` value
    raises ``TypeError``."""
    if pin is False:
        return df
    if pin is not None and pin is not True:
        raise TypeError(
            f"materialize= takes None, True or False, not {pin!r}; pins "
            "are durable when the session has a checkpoint directory"
        )
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)
