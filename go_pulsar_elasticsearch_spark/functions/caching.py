"""Bounded DataFrame caching for shared builder frames.

Several operators persist an intermediate frame that multiple branches
of the SAME query consume (MinHash band signatures, shingle posting
lists, tf-idf weights).  A bare ``df.persist()`` at the builder leaks:
registry queries hand their DataFrames to the driver, so no consumer
can pair an ``unpersist()`` with materialization, and every invocation
strands another cached frame for the session lifetime (observed across
the 175-query correctness sweep).

``cache_slot(key, df)`` keeps AT MOST ONE live cached frame per key:
the next invocation under the same key unpersists the previous
occupant before persisting the new frame.  Unpersisting a frame a
still-referenced plan uses is safe — Spark just recomputes it — so the
slot turnover can never corrupt an earlier query, only uncache it.
Frames persist MEMORY_AND_DISK so an oversized frame spills instead of
evicting executor memory.

Lifecycle caveat for the CHECKPOINT slots (r9, was misdocumented in
r8): ``DataFrame.unpersist`` only talks to the CacheManager, and a
``localCheckpoint`` frame was never registered there — the eviction
unpersist is a no-op for checkpointed occupants.  Their blocks are
RDD-level persisted storage, freed by the ContextCleaner once the JVM
RDD becomes unreachable; dropping the slot's reference here (plus the
py4j proxy GC) is what makes that happen.  This is the SAFE direction:
eagerly force-freeing the blocks would break any still-unexecuted plan
referencing the evicted LogicalRDD (a truncated lineage cannot be
recomputed), which would violate the invariant above.  The cost is
that reclamation is deferred to GC — bounded in practice because each
key holds at most one frame and turnover drops the old reference.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_slots: dict[str, DataFrame] = {}

# Durable-materialization switch for the checkpoint slots (r9, VERDICT
# item 8): `localCheckpoint` blocks are non-replicated executor state —
# losing an executor mid-query forces a restart of the whole query
# (no lineage to recompute from).  At cluster scale the guide §3.3
# write-and-read-back form is the safer shape for the biggest frames
# (the crawl `canon` full-source scan).  Setting
#   spark.conf.set("spark.gpe.slots.durableCheckpoint", "true")
# (or env GPE_DURABLE_CHECKPOINT=1) makes every checkpoint_slot write
# parquet under spark.gpe.slots.dir (default: a per-process tmpdir —
# production points it at durable shared storage) and return the
# read-back frame: same eager-materialization semantics, same plan
# shape otherwise (the leaf is a parquet scan instead of a LogicalRDD),
# but the intermediate survives executor loss.  Local default stays
# localCheckpoint so the bench measures the same plan the driver runs;
# the trade-off note lives in SCALE.md.
_DURABLE_CONF = "spark.gpe.slots.durableCheckpoint"
_DURABLE_DIR_CONF = "spark.gpe.slots.dir"
_durable_seq = 0
_durable_tmp: str | None = None


def _durable_requested(df: DataFrame) -> bool:
    env = os.environ.get("GPE_DURABLE_CHECKPOINT", "").strip().lower()
    if env in ("1", "true", "yes"):
        return True
    try:
        return (
            df.sparkSession.conf.get(_DURABLE_CONF, "false").lower()
            == "true"
        )
    except Exception:
        return False


def _durable_write_read(key: str, df: DataFrame) -> DataFrame:
    """Guide §3.3 write+read-back: materialize to parquet and return
    the scan.  Each turnover writes a fresh subdirectory — overwriting
    in place would corrupt still-unexecuted plans that reference the
    previous occupant's files (the same stale-plan hazard the
    GC-deferred block reclamation avoids for localCheckpoint)."""
    global _durable_seq, _durable_tmp
    spark = df.sparkSession
    base = None
    try:
        base = spark.conf.get(_DURABLE_DIR_CONF, None)
    except Exception:
        pass
    if not base:
        if _durable_tmp is None:
            _durable_tmp = tempfile.mkdtemp(prefix="gpe_slots_")
        base = _durable_tmp
    _durable_seq += 1
    path = os.path.join(base, f"{key}_{_durable_seq}")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)

# original (pre-checkpoint) frame per reuse key, for sameSemantics
# comparison — a checkpointed frame is a LogicalRDD leaf, so the
# incoming lineage must be compared against the lineage that BUILT the
# occupant, not the occupant itself.  Holds the logical plan only
# (small); cleared on any turnover or release so it cannot pin a stale
# lineage for the session lifetime.
_reuse_orig: dict[str, DataFrame] = {}


def cache_slot(key: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` under ``key``, evicting the key's previous frame."""
    old = _slots.pop(key, None)
    if old is not None:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # session torn down / frame already gone
    _reuse_orig.pop(key, None)
    _slots[key] = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _slots[key]


def release_slot(key: str) -> None:
    """Explicitly unpersist and drop a slot (streaming callers that can
    pair persist/unpersist per micro-batch).  For checkpointed
    occupants the unpersist is a no-op and dropping the reference is
    the release (module-header lifecycle note)."""
    _reuse_orig.pop(key, None)
    old = _slots.pop(key, None)
    if old is not None:
        old.unpersist(blocking=False)


def release_all_slots() -> None:
    """Drop every live slot (and its reuse lineage record).  Bench rep
    hygiene: calling this between timed reps makes every rep rebuild
    its shared frames, so reported medians include the build cost
    instead of reusing a frame materialized by an earlier rep
    (round-8 VERDICT: warm-median bias of the sameSemantics-reuse
    family)."""
    for key in list(_slots):
        release_slot(key)


def checkpoint_slot(key: str, df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` and keep at most one live
    checkpointed frame per key (same slot discipline as cache_slot).

    Use instead of cache_slot when the frame feeds MANY consumers in
    one plan (self-joins, band joins, re-expansion joins): a persisted
    frame still inlines its FULL logical lineage at every reference, so
    Catalyst re-analyzes/re-optimizes the subtree once per consumer —
    measured at 1.5-2.5 s of pure driver time on the banded-dedup
    family (optimization guide §3.3: "Materialising an intermediate
    result ... or localCheckpoint truncates the plan").  The eager
    checkpoint runs the subtree ONCE at build time and every consumer
    references a LogicalRDD leaf.

    Trade-offs vs cache_slot (why this is not the default): the build
    is eager (no lazy composition; an explain-only caller pays the full
    execution just to print a plan), the checkpointed blocks are
    non-replicated executor state (a lost executor at cluster scale
    forces a recompute-from-source restart of the query — acceptable
    for intra-query intermediates, same failure domain as shuffle
    files), and the frame can no longer fuse with downstream
    projections.  Block reclamation is GC-deferred: eviction drops the
    reference and the ContextCleaner frees the blocks once the RDD is
    unreachable (the module-header lifecycle note; DataFrame.unpersist
    cannot free checkpoint blocks, and force-freeing them would break
    still-unexecuted plans that reference the evicted leaf)."""
    old = _slots.pop(key, None)
    if old is not None:
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass
    # a direct (non-reuse) turnover invalidates any reuse lineage
    # recorded under this key, or the next checkpoint_slot_reuse call
    # could match the stale lineage and serve the wrong occupant
    _reuse_orig.pop(key, None)
    if _durable_requested(df):
        _slots[key] = _durable_write_read(key, df)
    else:
        _slots[key] = df.localCheckpoint(eager=True)
    return _slots[key]


def checkpoint_slot_reuse(key: str, df: DataFrame) -> DataFrame:
    """checkpoint_slot with cache_slot_reuse's occupancy rule: when the
    incoming frame is semantically identical to the one that built the
    current occupant, return the occupant (two operators sharing a
    builder over the same input share one materialization per session);
    a different lineage evicts and re-checkpoints."""
    orig = _reuse_orig.get(key)
    cur = _slots.get(key)
    if orig is not None and cur is not None:
        try:
            if df.sameSemantics(orig):
                return cur
        except Exception:
            pass  # can't compare -> fall through to turnover
    out = checkpoint_slot(key, df)  # clears _reuse_orig[key]; re-record
    _reuse_orig[key] = df
    return out


def cache_slot_reuse(key: str, df: DataFrame) -> DataFrame:
    """Like cache_slot, but REUSES the occupant when the incoming frame
    is semantically identical (same analyzed-plan semanticHash) — so
    two operators sharing a builder over the same input (ngram_jaccard
    + ngram_containment's posting list) share one materialization per
    session instead of evicting each other.  A different lineage still
    evicts, keeping the one-live-frame bound."""
    old = _slots.get(key)
    if old is not None:
        try:
            # sameSemantics compares CANONICALIZED plans exactly —
            # semanticHash() alone is a 32-bit hash whose collision
            # would silently serve a stale frame to a certified op
            if df.sameSemantics(old):
                return old
        except Exception:
            pass  # can't compare -> fall through to turnover
    return cache_slot(key, df)
