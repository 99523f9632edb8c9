"""Stage checkpoints, shared by the pipeline/link/prune planes.

One backend: `localCheckpoint` with serialized blocks, which truncates a
stage's lineage so its consumers plan against a shallow scan.  Every
checkpoint is registered in `_LIVE`, so a benchmark harness can release the
previous rep's blocks with `release_all` before the next rep starts.
"""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel

# serialized (+lz4 when spark.rdd.compress=true) blocks: the deserialized
# default kept multi-GB object graphs on the heap, and the GC pressure
# throttled exactly the high-parallelism runs the scaling target measures
SER_LEVEL = StorageLevel.MEMORY_AND_DISK

# live localCheckpoint DataFrames, so a bench harness can release the
# previous rep's RDD blocks SYNCHRONOUSLY before the next rep starts —
# ContextCleaner unpersists asynchronously after a driver GC, and the lag
# left rep N's serialized blocks squatting in the storage pool while
# rep N+1's extraction materialized (measured: rep-2 nodes_assembled spans
# ran 1.2-1.6x rep 1 at 0.36-0.41 core-util in the r5 scaling legs).
# BOUNDED (ADVICE r06): in a long-lived session (PipelineRunner reused,
# test suite, notebook) an unbounded strong-ref list would pin every
# build's checkpoint blocks forever — once the registry exceeds _LIVE_MAX,
# the OLDEST refs are dropped (not unpersisted), restoring the pre-r6
# behavior for them: when the caller's own references go too, the
# ContextCleaner reclaims the blocks asynchronously.  Recent checkpoints
# (the current bench rep's) stay synchronously releasable.
_LIVE: list = []
_LIVE_MAX = 64


def release_all() -> int:
    """Unpersist every registered checkpoint (blocking); -> count.

    Call between benchmark reps.  NOTE (ADVICE r06): a localCheckpoint's
    lineage is truncated, so any still-held DataFrame from a PRIOR build —
    both GraphResult tables are checkpoints themselves — fails on its next
    action after this (the data is unrecoverable, not recomputable); only
    call when every DataFrame from earlier builds is dead."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist(blocking=True)
            n += 1
        except Exception:
            pass
    return n


def ckpt(df, eager: bool = True):
    """Materialize a stage DataFrame and truncate its lineage.

    eager=False marks single-consumer stages where an immediate blocking
    materialization is pure barrier cost: the blocks are written when the
    consumer first reads them."""
    out = df.localCheckpoint(eager=eager, storageLevel=SER_LEVEL)
    _LIVE.append(out)
    if len(_LIVE) > _LIVE_MAX:
        del _LIVE[: len(_LIVE) - _LIVE_MAX]   # drop refs only; see comment
    return out
