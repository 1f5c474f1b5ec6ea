"""The engine's one cache-and-checkpoint lifecycle.

Three rules, and no other idiom (no caller-owned cache handles, no
module-level registries of persisted frames):

1. An eager barrier is ``materialize_barrier`` (below). Callers: the
   bronze quarantine split (``sources/bronze.py``), the incremental
   merge's write barrier (``operators/incremental.py``), the output
   pairs of the MinHash pair tail that ``minhash_near_duplicates`` and
   ``minhash_incremental_pairs`` share, the n-gram Jaccard
   hot-shingle pruning (``operators/similarity.py``), the incremental
   entity resolver's verified edges (``operators/entity.py``),
   ``semantic_dedup``, ``semantic_dedup_collapsed`` and
   ``kmeans_refine`` (``operators/ann.py``), and ``hash_ranked`` /
   ``mixture_select_budget`` (``operators/mixture.py``).
2. A relation reused within one call is ``persist()``-ed and
   ``unpersist()``-ed in a ``finally`` before the call returns.
3. Lineage truncation inside an iterative loop stays lazy: each
   ``connected_components`` round ends with ``localCheckpoint(eager=False)``
   that the round's own convergence job fills, so its output (and
   everything built on it, such as the entity resolution mapping)
   needs no further cache.

The barrier's trade-space, learned the hard way across review rounds:

- ``persist()`` without a matching unpersist leaks a catalog-cache
  entry per call in long-lived sessions.
- ``localCheckpoint(eager=True)`` is leak-free (ContextCleaner frees
  the blocks when the frame is GC'd) but truncates lineage into
  executor-local blocks: NOT recomputable after executor loss.
- ``checkpoint(eager=True)`` (reliable) survives executor loss but
  writes files under the checkpoint dir that Spark only deletes when
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` (a STATIC conf)
  is true — with the default false, every call leaks disk forever.

So: reliable checkpoint only when the session has BOTH a checkpoint
dir AND checkpoint cleaning enabled; otherwise localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_barrier(df: DataFrame) -> DataFrame:
    sc = df.sparkSession.sparkContext
    has_dir = sc.getCheckpointDir() is not None
    cleans = (
        sc.getConf()
        .get("spark.cleaner.referenceTracking.cleanCheckpoints", "false")
        .lower()
        == "true"
    )
    if has_dir and not cleans:
        # the user signalled they want reliable checkpoints but the
        # context won't reclaim them — surface the downgrade instead of
        # silently removing executor-loss recoverability
        import warnings  # noqa: PLC0415

        warnings.warn(
            "checkpoint dir is set but "
            "spark.cleaner.referenceTracking.cleanCheckpoints is false: "
            "falling back to localCheckpoint (not recoverable after "
            "executor loss) to avoid unbounded checkpoint-dir growth; "
            "set the cleaner conf at context start for reliable "
            "checkpoints",
            stacklevel=3,
        )
    return (
        df.checkpoint(eager=True)
        if has_dir and cleans
        else df.localCheckpoint(eager=True)
    )
