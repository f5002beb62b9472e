"""Per-round lineage break for every iterative operator.

Round-based operators (connected components, SCC, peeling, fusion,
HITS, Boruvka, ...) must cut lineage each round, or the plan — and its
compile and recompute cost — grows with the round count. One rule picks
how, worked out from the deployment rather than passed as a knob:

* a checkpoint directory is configured (``sparkContext.setCheckpointDir``
  or conf ``spark.graft.cc.checkpointDir``): each round is written to
  managed parquet round tables under it (:class:`RoundTables`). On a
  real cluster this is what survives executor loss — localCheckpoint
  blocks die with their executor, and an executor loss after round k
  would make the lineage unrecoverable and fail the whole job;
* otherwise: ``localCheckpoint()`` — executor block storage, no
  filesystem round-trip, right for local mode and short-lived jobs.
"""

from __future__ import annotations

import atexit
import uuid

from pyspark.sql import DataFrame, SparkSession

from hebrew_ner_spark.plans import fs

CHECKPOINT_DIR_CONF = "spark.graft.cc.checkpointDir"


class RoundTables:
    """Per-round lineage break as managed parquet round tables.

    ``df.checkpoint(eager=True)`` would also survive executor loss, but
    Spark never deletes DataFrame checkpoint files while they stay
    referenced (and cleanCheckpoints is off by default), so a long CC run
    would leak O(rounds x |V|) storage under the checkpoint dir. Writing
    each round to ``<dir>/round_<k>`` and deleting round k-1 once round k
    is fully materialized bounds the footprint to at most two round
    tables — the table backing the RETURNED DataFrame necessarily stays
    on disk until the caller is done with it. Deletion goes through the
    Hadoop FileSystem API (``plans/fs.py``), so the dir may be
    HDFS/S3/local alike.

    The final round table must outlive this object, so per-invocation
    cleanup cannot delete it eagerly. Instead each instance registers a
    best-effort atexit purge of its whole ``cc-<uuid>`` dir: repeated
    invocations in one driver accumulate at most one small final table
    each until the driver exits, instead of leaking them permanently
    onto HDFS/S3. An operator whose error path returns nothing calls
    :meth:`cleanup` immediately.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir.rstrip("/") + "/cc-" + uuid.uuid4().hex[:12]
        self.k = 0
        atexit.register(self.cleanup)

    def cleanup(self) -> None:
        """Best-effort removal of every round table this instance wrote.
        Safe to call twice; swallows errors (at interpreter shutdown the
        JVM gateway may already be gone — the OS/temp-cleaner then owns
        the local case, and a cluster job's next run re-registers)."""
        try:
            fs.delete(self.spark, self.base)
        except Exception:
            pass

    def __call__(self, df: DataFrame) -> DataFrame:
        path = f"{self.base}/round_{self.k}"
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        if self.k >= 1:
            # round k-1 fed only the (now fully written) round k
            fs.delete(self.spark, f"{self.base}/round_{self.k - 1}")
        self.k += 1
        return out


def checkpoint_dir(spark: SparkSession) -> str | None:
    """The configured checkpoint directory, or None: the sparkContext's
    checkpoint dir first, then ``spark.graft.cc.checkpointDir``."""
    return spark.sparkContext.getCheckpointDir() or spark.conf.get(
        CHECKPOINT_DIR_CONF, None
    )


def lineage_breaker(df_like: DataFrame):
    """The per-round lineage-break function for ``df_like``'s session:
    :class:`RoundTables` under the configured checkpoint directory, else
    ``localCheckpoint()``."""
    spark = df_like.sparkSession
    base = checkpoint_dir(spark)
    if base is None:
        return lambda df: df.localCheckpoint()
    return RoundTables(spark, base)
