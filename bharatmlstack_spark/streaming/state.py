"""The streamed-state lifecycle, written once: commit, recovery,
tombstones, compaction, re-bucketing, the growth policy and sidecar
edits for every persisted state root the ``foreachBatch`` sinks in
:mod:`bharatmlstack_spark.streaming.ingest` maintain. This docstring is
the single description of the on-disk protocol; the per-family
docstrings in ``ingest`` point here.

Families and layouts
--------------------
A family root holds parquet SUB-ROOTS, each either flat or hash-bucket
partitioned (``<bucket_col>=<pmod(key, n_buckets)>`` dirs, read through
targeted dir paths), plus the meta sidecar ``_bharatml_table_meta.json``:

- near-dup (``NEARDUP``): ``<state>/sets`` (``__kb`` on
  ``xxhash64(id)`` once ``n_buckets`` is recorded) and ``<state>/bands``
  (``__kb`` on ``band_hash`` when ``bucket_bands``);
- postings (``POSTINGS``): ``<index>/postings`` (``term_bucket`` on
  ``xxhash64(term)``) and ``<index>/doclen`` (``id_bucket`` on
  ``xxhash64(id)``);
- IVF / IVF-PQ / SemDeDup (``IVF``): the ``cell``-partitioned index root
  itself and, for a versioned index, the ``<index>__ids`` registry
  (``id_bucket``, 64 buckets); the quantizer lives beside it in
  ``<index>__quantizer`` (and ``__codebooks`` for IVF-PQ);
- clusters (``CLUSTERS``): ``<state>/labels`` (``__kb`` on
  ``xxhash64(node)``) beside the flat append-only ``<state>/merges``.

A :class:`Family` is the small internal spec of one of these: its layout
under a sidecar, its commit marker and stage pairs, its tombstone dir and
the sub-root that types its ids. It is not a user option.

Single writer
-------------
One process mutates a root at a time: a sink's own micro-batch loop
(including the maintenance ``auto_maintain`` runs inside it), or an
offline maintenance/reset job between sink runs. Readers may run
concurrently. Every step below keeps a complete copy of the data in some
directory at every instant, and every recovery step is idempotent, so
concurrent readers running the preamble race safely.

Stage suffixes
--------------
No rewrite overwrites live data in place; it writes a complete copy
beside it first:

- ``__compacting``  redelivery-dedup compaction and the cluster-label fold;
- ``__purging``     tombstone purge;
- ``__rebucketing`` re-bucket stages (near-dup, postings);
- ``__refitting``   refit stages (IVF index + quantizer);
- ``__replaced``    the aside copy held during a swap;
- ``__migrating``   the near-dup/cluster sinks' one-time flat to bucketed
  migration (delete + rename of a complete stage);
- ``__staging``     the CDC sink's per-batch rewrite and the CDC GC.

Aside swap and partitioned rewrites
-----------------------------------
A flat root is replaced by an ASIDE SWAP (:func:`swap_staged_root`):
rename live to ``__replaced``, rename the complete stage to live, drop
the aside. Never delete-live-first, so a complete copy is in live, aside
or stage at every instant. :func:`recover_root_swap` repairs a crash in
between: a missing live adopts a complete (``_SUCCESS``)
``__compacting``/``__purging`` stage, else restores the aside; an aside
beside a live root is dropped.

A partitioned root is rewritten only in its TARGETED bucket dirs
(:func:`rewrite_root`): the stage holds the rewritten rows of those
dirs, dynamic partition overwrite replaces exactly the dirs the stage
holds, and targeted dirs the stage no longer holds (emptied) are
deleted. A crash leaves each dir old or new, both readable.

Marker commit
-------------
Re-bucket and refit replace several sub-roots together
(:func:`commit_stages`): orphaned stages are swept, every stage is
written complete (``_SUCCESS`` required), then ONE marker file is
written atomically. Its presence is the commit point. Then the stages
are adopted by aside swaps, the marker's sidecar is installed and the
marker deleted (:func:`finish_commit`). Markers and their JSON:

- ``<state>/__rebucket_commit.json``
  ``{"new_meta", "adopt_sets", "adopt_bands"}``;
- ``<index>/__postings_rebucket.json`` ``{"new_meta", "adopt": [...]}``;
- ``<index>__refit_commit.json`` ``{"n_cells"}``: always adopts the
  index and quantizer stages; the sidecar rides inside the index stage.

A crash before the marker leaves the old state intact (the stages are
orphans the next job sweeps); after it, the next entry point finishes.

The preamble
------------
Every public entry point of a family opens its root through
:func:`open_root`: finish a pending marker commit, then recover each
sub-root's crashed flat swap. When nothing is pending this costs a few
file-system existence checks and launches no Spark job.

Sidecar maintenance keys
------------------------
The sinks bump ``batches_since_compact`` per batch, flag
``redelivery_suspected`` when batch ids stop increasing, track
``last_batch_id`` and accumulate ``rows_appended`` (an upper bound on
distinct rows, read by the growth policy). The delete surfaces of a
versioned root set ``full_delete_pending``; the fold clears it.
Versioned sinks roll ``next_gen_base``; the postings index caches
``n_docs``/``sum_dl`` stamped with ``stats_counter``. Compaction resets
the counter, clears the redelivery flag and drops the stats cache in one
write. Layout and signature keys (``n_buckets``, ``bucket_bands``,
``n_cells``, ``target_cell_rows``, ``versioned``, ...) are recorded by
the sinks and refused on mismatch. Every edit is one read-modify-write
with an atomic replace (:func:`edit_meta`).

Tombstone tables
----------------
A delete appends ids to a side table (``tombstones`` under postings and
near-dup roots, ``_tombstones`` under the IVF root, where the underscore
hides it from the root's own parquet discovery): plain ``(id)`` rows, or
``(id, gen_lt)`` on a versioned root, meaning "rows of id with
gen < gen_lt are dead" (a delete is ``gen_lt = GEN_MAX``, an update its
batch generation). Readers broadcast-anti-join the normalized table
(:func:`mask_tombstoned`); the fold purges the matching rows sub-root by
sub-root (dirs derived from the id where the bucket key is the id, else
one thin detection scan), deletes the tombstone table LAST, so the read
mask covers every crash point, then clears ``full_delete_pending``.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bharatmlstack_spark.operators.feature_store import (
    TABLE_META_FILE,
    hadoop_delete_path,
    hadoop_list_partition_dirs,
    hadoop_path_exists,
    hadoop_read_text,
    hadoop_write_text_atomic,
    read_table_meta,
)
from bharatmlstack_spark.query_registry import defer_unpersist

ASIDE_SUFFIX = "__replaced"
FLAT_STAGES = ("__compacting", "__purging")
REBUCKET_MARKER = "__rebucket_commit.json"
POSTINGS_REBUCKET_MARKER = "__postings_rebucket.json"
REFIT_MARKER_SUFFIX = "__refit_commit.json"
QUANTIZER_DIR_SUFFIX = "__quantizer"

MAINT_COUNTER_KEY = "batches_since_compact"
MAINT_REDELIVERY_KEY = "redelivery_suspected"
MAINT_LAST_BATCH_KEY = "last_batch_id"
MAINT_ROWS_KEY = "rows_appended"
MAINT_FULLDELETE_KEY = "full_delete_pending"
STATS_KEYS = ("n_docs", "sum_dl", "stats_counter")

# an update tombstone masks gens strictly below gen_lt; a full delete is
# "everything below +inf" — long max, unreachable by any real batch id
GEN_MAX = (1 << 63) - 1

POSTINGS_DIR = "postings"
DOCLEN_DIR = "doclen"
TOMBSTONES_DIR = "tombstones"
NEARDUP_TOMBSTONES_DIR = "tombstones"
IVF_TOMBSTONES_DIR = "_tombstones"
IVF_IDS_SUFFIX = "__ids"
IVF_ID_BUCKETS = 64


@dataclass(frozen=True)
class SubRoot:
    """One parquet sub-root of a family root, as its sidecar lays it out."""

    name: str  # report key prefix and marker name
    path: str
    bucket_col: str | None = None  # partition column; None = flat
    n_buckets: int | None = None
    key: str | None = None  # column the bucket derives from; None = not derivable
    hashed: bool = True  # bucket = pmod(xxhash64(key), n), else pmod(key, n)
    dedup: tuple[str, ...] = ()  # redelivery copies are equal on these
    id_col: str = "id"  # the data's id column (tombstones join on it)
    optional: bool = False  # may not exist (the versioned IVF registry)

    def bucket(self) -> Column:
        key = F.xxhash64(self.key) if self.hashed else F.col(self.key)
        return F.pmod(key, F.lit(self.n_buckets))


@dataclass(frozen=True)
class Family:
    """The per-family spec the lifecycle is parameterised by."""

    layout: Callable[..., list[SubRoot]]  # (root, meta, id_col=None)
    marker: str | None = None  # appended to the root
    stage: str = "__rebucketing"
    commit: tuple[tuple[str, str], ...] = ()  # (name, root suffix) a marker adopts
    tombstones: str | None = None
    id_root: str | None = None  # the sub-root whose schema types the ids
    missing: str = ""  # delete refusal when id_root is absent


def resolve_neardup_layout(meta: dict | None) -> tuple[int | None, bool]:
    """The ONE near-dup layout resolution, shared by the sink, the
    compactor and the re-bucket job: writer and compactor must agree on
    the legacy default or the compactor could rewrite a partitioned band
    root flat. Returns ``(n_buckets, bands_bucketed)``: no sidecar or no
    ``n_buckets`` key is flat everything; ``n_buckets`` with
    ``bucket_bands`` is as recorded; ``n_buckets`` without
    ``bucket_bands`` is a legacy sidecar from before the hybrid mode,
    which bucketed both roots."""
    if not meta or meta.get("n_buckets") is None:
        return None, False
    return int(meta["n_buckets"]), bool(meta.get("bucket_bands", True))


def _neardup_layout(root: str, meta: dict, id_col: str | None = None) -> list[SubRoot]:
    n, bands_bucketed = resolve_neardup_layout(meta)
    return [
        SubRoot("sets", f"{root}/sets", "__kb" if n else None, n, "id", dedup=("id",)),
        SubRoot(
            "bands", f"{root}/bands", "__kb" if bands_bucketed else None, n,
            "band_hash", hashed=False, dedup=("id", "band_idx"),
        ),
    ]


def _postings_layout(root: str, meta: dict, id_col: str | None = None) -> list[SubRoot]:
    n = int(meta["n_buckets"]) if "n_buckets" in meta else None
    gen = ("gen",) if meta.get("versioned") else ()
    return [
        SubRoot(
            "postings", f"{root}/{POSTINGS_DIR}", "term_bucket", n, "term",
            dedup=("term", "id", *gen),
        ),
        SubRoot("doclen", f"{root}/{DOCLEN_DIR}", "id_bucket", n, "id", dedup=("id", *gen)),
    ]


def _ivf_layout(root: str, meta: dict, id_col: str | None = None) -> list[SubRoot]:
    id_col = id_col or "vec_id"
    gen = ("gen",) if meta.get("versioned") else ()
    return [
        SubRoot("rows", root, "cell", dedup=(id_col, *gen), id_col=id_col),
        SubRoot(
            "registry", root + IVF_IDS_SUFFIX, "id_bucket", IVF_ID_BUCKETS, "id",
            dedup=("id", "gen"), optional=True,
        ),
    ]


def _cluster_layout(root: str, meta: dict, id_col: str | None = None) -> list[SubRoot]:
    n = int(meta["n_buckets"]) if meta.get("n_buckets") is not None else None
    return [SubRoot("labels", f"{root}/labels", "__kb" if n else None, n, "node", id_col="node")]


NEARDUP = Family(
    _neardup_layout,
    marker="/" + REBUCKET_MARKER,
    commit=(("sets", "/sets"), ("bands", "/bands")),
    tombstones=NEARDUP_TOMBSTONES_DIR,
    id_root="sets",
    missing="near-dup state {root} has no sets root — refusing to record "
    "a deletion no probe would ever see (check the path; a sink run "
    "creates the state).",
)
POSTINGS = Family(
    _postings_layout,
    marker="/" + POSTINGS_REBUCKET_MARKER,
    commit=(("postings", "/" + POSTINGS_DIR), ("doclen", "/" + DOCLEN_DIR)),
    tombstones=TOMBSTONES_DIR,
    id_root="doclen",
    missing="postings index {root} has no doclen table — not a "
    "stream_postings_sink root (or no batch has committed yet).",
)
IVF = Family(
    _ivf_layout,
    marker=REFIT_MARKER_SUFFIX,
    stage="__refitting",
    commit=(("index", ""), ("quantizer", QUANTIZER_DIR_SUFFIX)),
    tombstones=IVF_TOMBSTONES_DIR,
    id_root="rows",
    missing="streamed IVF index {root} does not exist — refusing to "
    "record a deletion a search would never see (check the path; a sink "
    "run creates the index).",
)
CLUSTERS = Family(_cluster_layout)


# ---------------------------------------------------------------------------
# swaps, recovery and the marker commit
# ---------------------------------------------------------------------------


def hadoop_rename(spark: SparkSession, src: str, dst: str) -> None:
    jvm = spark._jvm
    jsrc = jvm.org.apache.hadoop.fs.Path(src)
    fs = jsrc.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)):
        raise RuntimeError(f"rename {src} -> {dst} failed")


def require_stage_success(spark: SparkSession, stage: str) -> None:
    if not hadoop_path_exists(spark, stage + "/_SUCCESS"):
        raise RuntimeError(
            f"staged root {stage} exists but has no _SUCCESS marker — "
            "either mapreduce.fileoutputcommitter.marksuccessfuljobs is "
            "disabled (the reset jobs' commit protocol requires it) or "
            "the stage is a partial write; refusing to adopt or commit "
            "over it. Re-run the reset job with _SUCCESS markers "
            "enabled, or delete the stage to discard it."
        )


def swap_staged_root(spark: SparkSession, stage: str, live: str) -> None:
    """Adopt one complete staged root by the aside swap. A missing stage
    means another adopter (a concurrent reader running the preamble)
    already consumed it — only its leftovers are repaired: a missing
    live root gets the aside copy back, an aside beside live is
    dropped. A stage without ``_SUCCESS`` is refused loudly: markers are
    written only after complete stages, so adopting it would install a
    marker's sidecar over un-swapped roots."""
    aside = live + ASIDE_SUFFIX
    staged = hadoop_path_exists(spark, stage)
    if staged:
        require_stage_success(spark, stage)
        hadoop_delete_path(spark, aside)
        if hadoop_path_exists(spark, live):
            hadoop_rename(spark, live, aside)
        jvm = spark._jvm
        jstage = jvm.org.apache.hadoop.fs.Path(stage)
        fs = jstage.getFileSystem(spark._jsc.hadoopConfiguration())
        # a failed rename lost a race: another adopter consumed the stage
        # after the existence check — the repair below covers both
        fs.rename(jstage, jvm.org.apache.hadoop.fs.Path(live))
    if hadoop_path_exists(spark, live):
        hadoop_delete_path(spark, aside)
    elif hadoop_path_exists(spark, aside):
        hadoop_rename(spark, aside, live)
    elif staged:
        raise RuntimeError(
            f"staged-root adoption failed: {stage} vanished and "
            f"{live} is missing with no aside copy"
        )


def recover_root_swap(spark: SparkSession, live: str) -> None:
    """Repair a flat swap that crashed mid-rename: a missing live root
    adopts a complete ``__compacting``/``__purging`` stage, else
    restores the ``__replaced`` aside copy; an aside beside a live root
    is dropped. Two file-system calls when nothing is wrong."""
    aside = live + ASIDE_SUFFIX
    if not hadoop_path_exists(spark, live):
        done = [s for s in FLAT_STAGES if hadoop_path_exists(spark, f"{live}{s}/_SUCCESS")]
        src = live + done[0] if done else aside
        if not hadoop_path_exists(spark, src):
            return
        hadoop_rename(spark, src, live)
    hadoop_delete_path(spark, aside)


def replace_root(
    spark: SparkSession,
    df: DataFrame,
    live: str,
    stage_suffix: str,
    partition_col: str | None = None,
) -> None:
    """Write ``df`` complete at ``live + stage_suffix`` and adopt it by
    the aside swap. The other flat-swap stage is swept first: recovery
    adopts any complete one beside a missing live root, so a stale copy
    from an earlier crash must never sit next to this swap."""
    stage = live + stage_suffix
    if partition_col is None:
        df.write.mode("overwrite").parquet(stage)
    else:
        df.repartition(partition_col).write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(stage)
    for other in FLAT_STAGES:
        if other != stage_suffix:
            hadoop_delete_path(spark, live + other)
    swap_staged_root(spark, stage, live)


def finish_commit(spark: SparkSession, family: Family, root: str) -> bool:
    """(Re-)run the adoption of a written commit marker: swap in every
    stage it names, install its sidecar, delete it. Reads all three
    marker shapes: an ``adopt`` name list, ``adopt_<name>`` flags, or
    neither (adopt every stage pair). Idempotent; one file read when no
    marker exists. Returns True when a commit was finished."""
    marker = root + family.marker
    text = hadoop_read_text(spark, marker)
    if text is None:
        return False
    info = json.loads(text)
    adopt = info.get("adopt")
    for name, suffix in family.commit:
        if (name in adopt) if adopt is not None else info.get(f"adopt_{name}", True):
            swap_staged_root(spark, root + suffix + family.stage, root + suffix)
    if "new_meta" in info:
        hadoop_write_text_atomic(spark, _meta_path(root), json.dumps(info["new_meta"]))
    hadoop_delete_path(spark, marker)
    return True


def commit_stages(
    spark: SparkSession,
    family: Family,
    root: str,
    stages: dict[str, Callable[[str], object]],
    payload: Callable[[dict], dict],
) -> dict:
    """The marker commit, writer side: sweep the stages a pre-marker
    crash orphaned, write each named stage (``stages[name](path)``),
    require ``_SUCCESS`` on every one, write the marker
    ``payload(results)`` atomically — the COMMIT POINT — and adopt.
    Returns the stage writers' results."""
    paths = {name: root + suffix + family.stage for name, suffix in family.commit}
    for path in paths.values():
        hadoop_delete_path(spark, path)
    results = {name: write(paths[name]) for name, write in stages.items()}
    for name in stages:
        require_stage_success(spark, paths[name])
    hadoop_write_text_atomic(spark, root + family.marker, json.dumps(payload(results)))
    finish_commit(spark, family, root)
    return results


def open_root(spark: SparkSession, family: Family, root: str) -> None:
    """The preamble of every public entry point of a family: finish a
    pending marker commit, then recover each sub-root's crashed flat
    swap. Without it a restarted sink could validate against a
    pre-commit sidecar, or read a mid-swap root as empty."""
    if family.marker:
        finish_commit(spark, family, root)
    for sub in family.layout(root, {}):
        recover_root_swap(spark, sub.path)


# ---------------------------------------------------------------------------
# the sidecar
# ---------------------------------------------------------------------------


def _meta_path(root: str) -> str:
    return os.path.join(root, TABLE_META_FILE)


def edit_meta(
    spark: SparkSession, root: str, edit: Callable[[dict], object], create: bool = True
) -> None:
    """The one read-modify-write of a root's sidecar: ``edit`` changes
    the parsed dict in place (returning False skips the rewrite), and
    the file is replaced atomically — it carries the layout contract, so
    a torn write would brick the next start. ``create=False`` leaves a
    root without a sidecar alone."""
    meta = read_table_meta(spark, root)
    if meta is None and not create:
        return
    meta = meta or {}
    if edit(meta) is False:
        return
    hadoop_write_text_atomic(spark, _meta_path(root), json.dumps(meta))


def update_maintenance_meta(
    spark: SparkSession,
    root: str,
    batch_id: int | None = None,
    rows_appended: int | None = None,
    extra: dict | None = None,
) -> None:
    """Per-micro-batch bookkeeping: bump the batch counter, flag a
    redelivery when ``batch_id`` is not strictly increasing (a restarted
    checkpoint re-numbers from an earlier id — the event that appends
    the duplicate rows compaction reclaims), accumulate
    ``rows_appended`` and merge the sink's layout facts (``extra``)."""

    def edit(meta: dict) -> None:
        meta[MAINT_COUNTER_KEY] = int(meta.get(MAINT_COUNTER_KEY, 0)) + 1
        if batch_id is not None:
            last = meta.get(MAINT_LAST_BATCH_KEY)
            if last is not None and int(batch_id) <= int(last):
                meta[MAINT_REDELIVERY_KEY] = True
            meta[MAINT_LAST_BATCH_KEY] = max(
                int(batch_id), int(last) if last is not None else int(batch_id)
            )
        if rows_appended:
            meta[MAINT_ROWS_KEY] = int(meta.get(MAINT_ROWS_KEY, 0)) + int(rows_appended)
        meta.update(extra or {})

    edit_meta(spark, root, edit)


def drop_cached_stats(meta: dict) -> bool:
    """Drop the cached corpus stats from a sidecar dict; False when
    there were none (the rewrite can be skipped)."""
    if "n_docs" not in meta and "sum_dl" not in meta:
        return False
    for k in STATS_KEYS:
        meta.pop(k, None)
    return True


def reset_maintenance_meta(
    spark: SparkSession, root: str, clear_redelivery: bool = True
) -> None:
    """After a compaction: zero the batch counter, clear the redelivery
    flag and drop the cached stats, in one write — a reset counter
    beside a stale ``stats_counter == 0`` would make the old stats look
    fresh. ``clear_redelivery=False`` keeps the flag for a pass that
    could not reclaim every duplicate (the compaction bail-out), so
    ``maintenance_due`` keeps reporting them."""

    def edit(meta: dict) -> None:
        meta[MAINT_COUNTER_KEY] = 0
        if clear_redelivery:
            meta.pop(MAINT_REDELIVERY_KEY, None)
        drop_cached_stats(meta)

    edit_meta(spark, root, edit, create=False)


def set_meta_flag(spark: SparkSession, root: str, key: str, value) -> None:
    """Set one sidecar key, or clear it with ``value=None`` (clearing an
    absent key skips the rewrite)."""

    def edit(meta: dict) -> bool:
        if value is not None:
            meta[key] = value
            return True
        return meta.pop(key, None) is not None

    edit_meta(spark, root, edit)


def outgrown(
    spark: SparkSession,
    family: Family,
    root: str,
    size_key: str,
    target: int,
    factor: float,
    target_key: str | None = None,
) -> tuple[int, int] | None:
    """The one growth rule behind the reset-cadence policies: the root
    has outgrown its layout when ``rows_appended >= factor *
    meta[size_key] * target`` (``target`` is overridden by a recorded
    ``meta[target_key]``). Returns ``(rows_appended, target)`` when due,
    None when not or when no sink has recorded the counters yet. One
    sidecar read after the preamble, never a state scan."""
    open_root(spark, family, root)
    meta = read_table_meta(spark, root) or {}
    if target_key is not None:
        target = int(meta.get(target_key, target))
    size, rows = meta.get(size_key), meta.get(MAINT_ROWS_KEY)
    if not size or not rows or int(rows) < factor * int(size) * target:
        return None
    return int(rows), target


def new_size(due: tuple[int, int]) -> int:
    """The bucket count that puts the population back at target."""
    rows, target = due
    return max(1, math.ceil(rows / target))


# ---------------------------------------------------------------------------
# targeted rewrites: compaction and the tombstone purge
# ---------------------------------------------------------------------------


def rewrite_root(
    spark: SparkSession,
    root: str,
    keep_fn: Callable[[DataFrame], DataFrame],
    stage_suffix: str,
    bucket_col: str | None = None,
    targeted: dict | None = None,
) -> int:
    """The one targeted-rewrite core behind compaction and the purge;
    returns rows removed. Flat (``targeted`` None): ``keep_fn`` over the
    root, staged and aside-swapped (a root nothing survives in is
    deleted). Partitioned: a scoped read of the ``{bucket: dir}``
    targets, staged, dynamic partition overwrite of the staged dirs,
    then the targeted dirs the stage no longer holds are deleted.
    Nothing is written when ``keep_fn`` drops no row."""
    if targeted is None:
        df = spark.read.parquet(root)
    else:
        df = spark.read.option("basePath", root).parquet(*targeted.values())
    before = df.count()
    keep = defer_unpersist(keep_fn(df).persist())
    n_after = keep.count()
    if n_after == before:
        return 0
    if targeted is None:
        if n_after:
            replace_root(spark, keep, root, stage_suffix)
        else:
            hadoop_delete_path(spark, root)
        return before - n_after
    stage = root + stage_suffix
    if n_after:
        (
            keep.repartition(bucket_col)
            .write.mode("overwrite")
            .partitionBy(bucket_col)
            .parquet(stage)
        )
        (
            spark.read.parquet(stage)
            .repartition(bucket_col)
            .write.mode("overwrite")
            .partitionBy(bucket_col)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(root)
        )
    # dynamic overwrite leaves a dir the stage holds no rows for in place
    # (listed only when this call wrote the stage: a crash can leave one)
    survivors = hadoop_list_partition_dirs(spark, stage, bucket_col) if n_after else {}
    for b, path in targeted.items():
        if b not in survivors:
            hadoop_delete_path(spark, path)
    hadoop_delete_path(spark, stage)
    return before - n_after


def detect_duplicate_partitions(
    state: DataFrame, dedup_cols: list[str], partition_col: str
) -> DataFrame:
    """The compactors' detection pass as a plan: per-partition
    ``count(*) - count_distinct(dedup cols) > 0``. Reads ONLY the dedup
    columns (the fat payload is pruned at the scan; plan-pinned in
    tests/test_plans.py) with map-side partial aggregation, so the
    steady-state no-op costs one thin scan."""
    return (
        state.groupBy(partition_col)
        .agg(
            (
                F.count(F.lit(1))
                - F.count_distinct(*[F.col(c) for c in dedup_cols])
            ).alias("__dups")
        )
        .filter(F.col("__dups") > 0)
    )


def compact_dedup_state(spark: SparkSession, sub: SubRoot) -> tuple[int, bool]:
    """Drop redelivery-duplicate rows (byte-identical by construction)
    from one sub-root. Steady state costs one thin detection scan and no
    write; only duplicate-holding dirs rewrite. Returns
    ``(rows_removed, bailed)``: ``bailed`` when duplicates are known to
    live in dirs the listing cannot target (a null key's
    ``__HIVE_DEFAULT_PARTITION__``) — the caller then keeps the
    redelivery flag."""
    if not hadoop_path_exists(spark, sub.path):
        return 0, False
    dedup = list(sub.dedup)

    def keep(df: DataFrame) -> DataFrame:
        return df.dropDuplicates(dedup)

    dirs = hadoop_list_partition_dirs(spark, sub.path, sub.bucket_col) if sub.bucket_col else {}
    if not dirs:
        return rewrite_root(spark, sub.path, keep, "__compacting"), False
    per_part = detect_duplicate_partitions(spark.read.parquet(sub.path), dedup, sub.bucket_col)
    touched = [r[0] for r in per_part.select(sub.bucket_col).collect()]
    targeted = {p: dirs[p] for p in touched if p in dirs}
    bailed = len(targeted) < len(touched)
    if not targeted:
        return 0, bailed
    return rewrite_root(spark, sub.path, keep, "__compacting", sub.bucket_col, targeted), bailed


def compact_root(
    spark: SparkSession, family: Family, root: str, id_col: str | None = None
) -> tuple[dict, dict, set]:
    """Compaction of every sub-root of a family root: fold pending
    deletions first (the dedup rewrite must see the post-deletion
    state), dedup each sub-root, then reset the maintenance keys —
    keeping the redelivery flag when any sub-root bailed out. Returns
    ``(fold report, {"<name>_removed": n}, names that bailed)``."""
    folded = fold_tombstones(spark, family, root, id_col)
    removed, bailed = {}, set()
    for sub in family.layout(root, read_table_meta(spark, root) or {}, id_col):
        removed[f"{sub.name}_removed"], b = compact_dedup_state(spark, sub)
        if b:
            bailed.add(sub.name)
    reset_maintenance_meta(spark, root, clear_redelivery=not bailed)
    return folded, removed, bailed


# ---------------------------------------------------------------------------
# tombstones
# ---------------------------------------------------------------------------


def read_tombstones(spark: SparkSession, path: str, id_col: str = "id") -> DataFrame | None:
    """The live tombstone set normalized to one row per ``id``, or None
    when absent. Callers broadcast it: a deletion wave big enough to
    strain a broadcast is a fold trigger. A versioned table's max
    ``gen_lt`` per id wins (updated at gen 3 then 5 masks everything
    below 5; updated then deleted masks everything below GEN_MAX), and a
    null ``gen_lt`` from a plain-delete file counts as GEN_MAX. Tables
    written before the family-wide ``id`` column used ``id_col``."""
    if not hadoop_path_exists(spark, path):
        return None
    # all-column dedup, not id-only: a versioned table legitimately holds
    # several (id, gen_lt) rows for one id
    t = spark.read.parquet(path).dropDuplicates()
    if "id" not in t.columns:
        t = t.withColumnRenamed(id_col, "id")
    if "gen_lt" not in t.columns:
        return t
    return t.groupBy("id").agg(F.max(F.coalesce("gen_lt", F.lit(GEN_MAX))).alias("gen_lt"))


def mask_tombstoned(
    df: DataFrame, tomb: DataFrame, id_col: str = "id", how: str = "left_anti"
) -> DataFrame:
    """Join ``df`` against the broadcast tombstone set: plain tombstones
    on the id; versioned ones on ``id matches AND gen < gen_lt``, so
    only dead generations match. ONE predicate for the read mask
    (``left_anti``), the purge and its detection scan (``left_semi``),
    so mask and purge can never disagree about what "dead" means.
    ``tomb``'s id column is ``id``; ``id_col`` names ``df``'s."""
    if "gen_lt" not in tomb.columns:
        t = tomb.select(F.col("id").alias(id_col))
        return df.join(F.broadcast(t), on=id_col, how=how)
    t = tomb.select(F.col("id").alias("__t_id"), "gen_lt")
    cond = (df[id_col] == t["__t_id"]) & (df["gen"] < t["gen_lt"])
    return df.join(F.broadcast(t), on=cond, how=how)


def purge_tombstoned_rows(
    spark: SparkSession,
    root: str,
    t: DataFrame,
    join_col: str,
    bucket_col: str | None = None,
    touched: list | None = None,
) -> int:
    """Anti-join rewrite of the dirs of one sub-root holding rows the
    (broadcast, persisted) tombstone set ``t`` kills; ``touched`` bucket
    values come pre-derived from the ids, or from one thin detection
    scan. Returns rows removed."""
    if not hadoop_path_exists(spark, root):
        return 0

    def keep(df: DataFrame) -> DataFrame:
        return mask_tombstoned(df, t, join_col)

    if bucket_col is None:
        return rewrite_root(spark, root, keep, "__purging")
    dirs = hadoop_list_partition_dirs(spark, root, bucket_col)
    if touched is None:
        touched = [
            r[0]
            for r in mask_tombstoned(spark.read.parquet(root), t, join_col, "left_semi")
            .select(bucket_col)
            .distinct()
            .collect()
        ]
    targeted = {b: dirs[b] for b in touched if b in dirs}
    if not targeted:
        return 0
    return rewrite_root(spark, root, keep, "__purging", bucket_col, targeted)


def fold_tombstones(
    spark: SparkSession, family: Family, root: str, id_col: str | None = None
) -> dict:
    """The one fold: purge the tombstoned rows from every sub-root (dirs
    derived from the ids where the bucket key is the id, else one thin
    detection scan), delete the tombstone table LAST — the read mask
    covers every crash point — then clear ``full_delete_pending``
    (also when there was nothing to fold: a crash between a prior
    fold's table delete and its flag clear must not leave the flag
    firing forever). Returns ``{"tombstones": n, "<name>_removed": m}``."""
    open_root(spark, family, root)
    subs = family.layout(root, read_table_meta(spark, root) or {}, id_col)
    tomb_dir = f"{root}/{family.tombstones}"
    tomb = read_tombstones(spark, tomb_dir, id_col or "id")
    if tomb is None or tomb.isEmpty():
        set_meta_flag(spark, root, MAINT_FULLDELETE_KEY, None)
        return {"tombstones": 0, **{f"{s.name}_removed": 0 for s in subs if not s.optional}}
    t = defer_unpersist(F.broadcast(tomb).persist())
    out = {"tombstones": t.count()}
    for sub in subs:
        touched = None
        if sub.bucket_col and sub.hashed and sub.key == sub.id_col:
            touched = [r[0] for r in t.select(sub.bucket().alias("b")).distinct().collect()]
        out[f"{sub.name}_removed"] = purge_tombstoned_rows(
            spark, sub.path, t, sub.id_col, sub.bucket_col, touched
        )
    hadoop_delete_path(spark, tomb_dir)
    set_meta_flag(spark, root, MAINT_FULLDELETE_KEY, None)
    return out


def append_tombstones(
    spark: SparkSession, path: str, ids, target_type, gen_lt: int | None = None
) -> int:
    """Append a deletion wave: a list or single-column DataFrame becomes
    a distinct ``id`` column CAST to the stored id type — xxhash64 is
    type-sensitive, so an inferred-type mismatch would derive the wrong
    bucket dirs at fold time. Empty waves are a no-op (0). NULL ids are
    refused loudly, before or after the cast: neither mask nor purge
    ever matches NULL, so the delete would silently never happen.
    ``gen_lt`` marks an update tombstone on a versioned root (a full
    delete passes GEN_MAX). Returns tombstones appended."""
    if isinstance(ids, DataFrame):
        frame = ids.select(F.col(ids.columns[0]).alias("id"))
    else:
        ids = list(ids)
        if not ids:
            return 0
        if any(i is None for i in ids):
            raise ValueError(
                "tombstones cannot target NULL ids — the anti-join mask "
                "and the fold's purge never match NULL, so the delete "
                "would silently never take effect. Null-id rows are not "
                "deletable through the tombstone surface."
            )
        frame = spark.createDataFrame([(i,) for i in ids], ["id"])
    # try_cast, not cast: under ANSI mode a malformed id would abort the
    # whole wave mid-job — try_cast funnels it into the NULL refusal
    frame = frame.select(F.col("id").try_cast(target_type).alias("id")).distinct()
    if gen_lt is not None:
        frame = frame.withColumn("gen_lt", F.lit(int(gen_lt)).cast("long"))
    # the versioned sinks run this per batch: persist so the probe
    # evaluates once, and take both counts from one aggregate job
    frame = frame.persist()
    try:
        counts = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("id").isNull()).alias("n_null"),
        ).collect()[0]
        n, n_null = int(counts["n"]), int(counts["n_null"])
        if not n:
            return 0
        if n_null:
            raise ValueError(
                f"tombstone wave contains {n_null} NULL id(s) after "
                f"casting to the stored type {target_type} — either the "
                "caller passed NULL ids or the ids do not cast to the "
                "index's id type. Both would produce a tombstone no "
                "search or fold can ever match; refusing."
            )
        frame.write.mode("append").parquet(path)
    finally:
        frame.unpersist()
    return n


def delete_ids(
    spark: SparkSession, family: Family, root: str, ids, id_col: str | None = None
) -> int:
    """The one delete: open the root, refuse one that does not exist (a
    typo'd path must not create a tombstone table nothing reads), type
    the ids like the stored ones, drop the cached stats (they counted
    the ids; dropped BEFORE the tombstone lands, so a crash in between
    only loses the delete), append the wave — on a versioned root as
    ``gen_lt = GEN_MAX``, terminal until folded, keeping the table's
    schema uniform — and flag it ``full_delete_pending`` so it is due
    even under the versioned sinks' steady-state cadence. The flag lands
    AFTER the append: a crash leaves tombstones the default cadence
    still counts, never a flag with no wave."""
    open_root(spark, family, root)
    meta = read_table_meta(spark, root) or {}
    sub = next(s for s in family.layout(root, meta, id_col) if s.name == family.id_root)
    if not hadoop_path_exists(spark, sub.path):
        raise RuntimeError(family.missing.format(root=root))
    id_type = spark.read.parquet(sub.path).schema[sub.id_col].dataType
    edit_meta(spark, root, drop_cached_stats, create=False)
    versioned = bool(meta.get("versioned"))
    n = append_tombstones(
        spark, f"{root}/{family.tombstones}", ids, id_type,
        gen_lt=GEN_MAX if versioned else None,
    )
    if n and versioned:
        set_meta_flag(spark, root, MAINT_FULLDELETE_KEY, True)
    return n


# ---------------------------------------------------------------------------
# re-bucketing
# ---------------------------------------------------------------------------


def _stage_rebucketed(spark: SparkSession, sub: SubRoot, stage: str) -> tuple[int, int]:
    """Write ``sub`` deduped and re-bucketed under ``sub.n_buckets`` to
    ``stage``, never touching the live root; ``(rows before, rows
    staged)``."""
    df = spark.read.parquet(sub.path)
    if sub.bucket_col in df.columns:
        df = df.drop(sub.bucket_col)
    before = df.count()
    keep = df.dropDuplicates(list(sub.dedup))
    (
        keep.withColumn(sub.bucket_col, sub.bucket())
        .repartition(sub.bucket_col)
        .write.mode("overwrite")
        .partitionBy(sub.bucket_col)
        .parquet(stage)
    )
    return before, spark.read.parquet(stage).count()


def rebucket_root(
    spark: SparkSession,
    family: Family,
    root: str,
    relayout: Callable[[dict], dict],
    marker: Callable[[dict, list[str]], dict],
) -> tuple[dict, dict, int]:
    """The one re-bucket job: fold pending deletions, lay the sidecar out
    anew (``relayout(meta)`` gives the changed layout keys), stage every
    bucketed sub-root of the new layout with its redelivery dedup folded
    in, and commit through the family's marker
    (``marker(new_meta, staged names)``). The new sidecar zeroes the
    batch counter, takes the first staged sub-root's deduped row count
    as ``rows_appended`` and drops the redelivery flag and cached stats.
    Returns ``(old meta, {name: staged rows}, rows removed)``."""
    fold_tombstones(spark, family, root)
    meta = read_table_meta(spark, root) or {}
    new_meta = {**meta, **relayout(meta), MAINT_COUNTER_KEY: 0}
    subs = [s for s in family.layout(root, new_meta) if s.bucket_col]
    names = [s.name for s in subs]

    def payload(res: dict) -> dict:
        out = {**new_meta, MAINT_ROWS_KEY: res[names[0]][1]}
        out.pop(MAINT_REDELIVERY_KEY, None)
        drop_cached_stats(out)
        return marker(out, names)

    res = commit_stages(
        spark, family, root,
        {s.name: lambda stage, s=s: _stage_rebucketed(spark, s, stage) for s in subs},
        payload,
    )
    return meta, {n: after for n, (_, after) in res.items()}, sum(b - a for b, a in res.values())


# ---------------------------------------------------------------------------
# layout migration (the near-dup and cluster sinks)
# ---------------------------------------------------------------------------


def root_layout(spark: SparkSession, path: str) -> str | None:
    """Physical layout of one append-only state root: ``None``
    (absent/empty), ``'flat'``, ``'bucketed'`` (``__kb=`` dirs), or
    ``'mixed'`` — the damage state this probe exists to catch:
    ``spark.read.parquet`` over a root holding BOTH returns only the
    partitioned rows, silently dropping every flat-era row."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    has_kb = has_flat = False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS, sidecars
        if st.isDirectory() and name.startswith("__kb="):
            has_kb = True
        else:
            has_flat = True
    if has_kb and has_flat:
        return "mixed"
    return "bucketed" if has_kb else ("flat" if has_flat else None)


def ensure_root_layout(
    spark: SparkSession,
    path: str,
    kb_expr,
    want_bucketed: bool,
    repair_hint: str = "pass the state_buckets the state was created with "
    "(recorded in the state dir's meta sidecar)",
) -> None:
    """Reconcile one append-only root with the REQUESTED layout before a
    run's first append (appending the other layout would create the
    mixed root). Flat root, bucketed requested: MIGRATE — stage the
    partitioned copy at ``path + '__migrating'`` and swap by delete +
    rename; a partial stage is discarded, a complete one (``_SUCCESS``)
    is adopted on the next start. Bucketed root, flat requested: refuse
    (refuse-to-degrade); ``repair_hint`` names the knob that controls
    this root."""
    tmp = path + "__migrating"
    layout = root_layout(spark, path)
    if hadoop_path_exists(spark, tmp):
        if hadoop_path_exists(spark, tmp + "/_SUCCESS"):
            # complete staged copy: finish the crashed swap
            if layout is not None:
                hadoop_delete_path(spark, path)
            hadoop_rename(spark, tmp, path)
            layout = "bucketed"
        else:
            hadoop_delete_path(spark, tmp)  # partial write; original intact
    if layout == "mixed":
        raise RuntimeError(
            f"near-dup state root {path} holds BOTH flat files and __kb= "
            "partition dirs — reads would silently drop the flat rows. "
            "This root predates the layout guard; repair by re-seeding "
            "the state (replay the topic) or manually folding the flat "
            "files into the partitioned layout."
        )
    if want_bucketed and layout == "flat":
        flat = spark.read.parquet(path)
        (
            flat.withColumn("__kb", kb_expr(flat))
            .repartition("__kb")
            .write.mode("overwrite")
            .partitionBy("__kb")
            .parquet(tmp)
        )
        hadoop_delete_path(spark, path)
        hadoop_rename(spark, tmp, path)
    elif not want_bucketed and layout == "bucketed":
        raise RuntimeError(
            f"near-dup state root {path} is bucket-partitioned but this "
            "run requested the flat layout — flat appends would create "
            f"the silent-loss mixed root. Repair: {repair_hint}."
        )
