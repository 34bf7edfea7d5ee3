"""Storage policy for lineage cuts.

Every iterative or multi-consumer operator in this engine cuts lineage
with ``DataFrame.localCheckpoint`` (cluster analog: checkpoint to
storage). PySpark's default level for that materialization is
MEMORY_AND_DISK_DESER — **deserialized Java row objects**, ~5-8× the
serialized footprint plus per-object GC pressure. At bench scale that is
invisible; at the 100× rehearsal (sf10) it is fatal twice over:

* round 11: ``graph_hits_bipartite``'s deserialized edge cache OOM'd the
  default 8 GiB heap (fixed then by one-off ``persist``);
* round 12: ``connected_components`` over a 27M-pair near-dup graph died
  inside ``DeserializedValuesHolder.storeValue`` — 32 tasks unrolling
  object rows concurrently blew the raw Java heap before Spark's memory
  manager could even account for it.

The policy fix: **all lineage cuts store SERIALIZED** (pyspark's
``StorageLevel.MEMORY_AND_DISK``, which — unlike the Scala constant of
the same name — is the serialized variant). Compact Tungsten bytes, unified-
memory-accounted, evictable to disk under execution pressure. Reads pay
one deserialization, irrelevant next to the shuffle that produced the
frame; in exchange no operator's memory footprint depends on row-object
overhead, which is the property that survives a 1000-executor cluster
where the same heap serves 100× the partitions.

Every ``persist``, ``cache`` and ``localCheckpoint`` call outside this
module passes ``CKPT_LEVEL``; a bare ``localCheckpoint()`` (deserialized)
or ``cache()`` is an audit violation (tests/test_env_knobs.py pins this).
"""

from __future__ import annotations

from pyspark import StorageLevel

CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK

# Session-scoped DataFrame memos (checkpointed frames reused across
# operator calls: classifier logits, BPE merge dictionaries, IVF
# assignments). Anything that unpersists storage blocks wholesale —
# bench._release_sweep_memory between sf10 sweep runs — MUST also clear
# these, or the next call returns a DataFrame whose checkpoint blocks
# are gone (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, r12 sweep). Modules
# register the dict at definition time; the release path clears them all
# through one call instead of knowing each module's internals.
SESSION_DF_CACHES: list[dict] = []


def register_session_df_cache(cache: dict) -> dict:
    """Register a module-level dict whose VALUES hold (or contain)
    persisted DataFrames. Returns the dict for inline use."""
    SESSION_DF_CACHES.append(cache)
    return cache


def clear_session_df_caches() -> None:
    for cache in SESSION_DF_CACHES:
        cache.clear()

