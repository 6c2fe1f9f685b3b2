"""Batch MERGE (upsert) into the partitioned-parquet warehouse —
copy-on-write, touching ONLY the partitions the updates land in.

The batch twin of `streaming/upsert.py`'s latest-wins entity upsert
(reference `subscriber.py:97-123` holds the per-entity latest-state
precedent), and the plain-parquet expression of what Delta/Hudi/Iceberg
call MERGE INTO with copy-on-write:

  1. prune: collect the DISTINCT partition values present in the
     updates (an aggregate over the small update batch, not the table);
  2. read back ONLY those partitions of the target (partition-pruned
     scan — the 100 TB table contributes just the touched slice);
  3. latest-wins dedup of (existing ∪ updates) per key by a version
     column, deterministic tiebreak on provenance (update beats
     existing at equal version);
  4. dynamic partition-overwrite of exactly those partitions
     (`overwrite_partitions`) — untouched partitions keep their files
     byte-for-byte (asserted by mtime in tests). The write observes
     which touched partitions still hold rows (`DataFrame.observe`),
     so the latest-wins plan runs once; a touched partition that lost
     every row has its directory deleted afterwards.

The update batch is persisted for the duration of the merge (unless
the caller already cached it), so steps 1 and 3 share one evaluation
of the caller's plan.

Scale: cost is O(touched partitions + update batch), independent of
table size. The latest-wins dedup is one window over (key) within the
touched slice — at 10⁹ rows per partition you'd bucket the table by
key to make this shuffle-free; the warehouse's bucketed path
(`sources/bucketing.py`) shows that layout.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from orionld_to_hive_spark.sources.warehouse import overwrite_partitions

# Single-writer lock file at the table root. Two concurrent MERGEs into
# the same table are read-modify-write races: both read the same
# touched slice, both rewrite it, and whichever dynamic overwrite lands
# second silently erases the first's updates. The lock turns that
# silent lost-update into an explicit error (r6, VERDICT r5 item 8).
_LOCK_NAME = "_merge.lock"


class ConcurrentMergeError(RuntimeError):
    """Another writer holds the table's `_merge.lock`."""


def _acquire_lock(spark, target_path: str, break_stale_lock_s: float | None):
    """Atomic create of the table's lock file (Hadoop createNewFile —
    atomic on local/HDFS; on S3 front this with a real coordinator).
    A crashed writer leaves the lock behind; pass break_stale_lock_s to
    reclaim locks older than that many seconds. Returns
    (fs, lock_path, owned_mtime); the caller must release through
    `_release_lock` in a finally block — the mtime is the ownership
    witness that keeps a writer from deleting a lock someone else
    created after its own was broken."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    lock = jvm.org.apache.hadoop.fs.Path(target_path, _LOCK_NAME)
    lock_fs = lock.getFileSystem(hconf)
    if not lock_fs.createNewFile(lock):
        broke = False
        if break_stale_lock_s is not None and lock_fs.exists(lock):
            import time as _time

            seen_mtime = lock_fs.getFileStatus(lock).getModificationTime()
            age_s = _time.time() - seen_mtime / 1000.0
            if age_s > break_stale_lock_s:
                # Break via atomic rename-aside, not delete+create: two
                # writers that both measured the old lock as stale would
                # otherwise race delete/create and B could delete A's
                # freshly recreated lock (TOCTOU — r6 ADVICE). rename is
                # atomic on local/HDFS, so exactly one breaker captures
                # any given lock file. Two guards close the remaining
                # windows (r7 review): (1) re-stat immediately before
                # the rename and abort the break if the mtime moved — a
                # breaker must never take a lock someone just recreated,
                # because handing it back leaves the lock path VACANT
                # for the duration of the rename round-trip, a window a
                # third writer could acquire in; (2) if a fresh capture
                # does slip through (mtime races are possible at clock
                # resolution), re-verify age on the captured file
                # (rename preserves mtime) and hand it back.
                import uuid as _uuid

                aside = jvm.org.apache.hadoop.fs.Path(
                    target_path, f"{_LOCK_NAME}.broken-{_uuid.uuid4().hex}"
                )
                still_same = (
                    lock_fs.exists(lock)
                    and lock_fs.getFileStatus(lock).getModificationTime()
                    == seen_mtime
                )
                if still_same and lock_fs.rename(lock, aside):
                    aged = _time.time() - (
                        lock_fs.getFileStatus(aside).getModificationTime()
                        / 1000.0
                    )
                    if aged > break_stale_lock_s:
                        lock_fs.delete(aside, False)
                        broke = lock_fs.createNewFile(lock)
                    elif not lock_fs.rename(aside, lock):
                        # Someone re-locked during the vacancy, so the
                        # captured file is the still-active second
                        # writer's lock. Deleting it would let that
                        # writer finish its critical section unlocked,
                        # concurrent with the third writer — so leave
                        # the .broken-* aside on disk (inert: only the
                        # exact _LOCK_NAME path gates writers) where
                        # it is observable and sweepable (the next
                        # successful writer's _release_lock sweeps it),
                        # and fall through to ConcurrentMergeError.
                        # Residual mtime-race caveat (r8 review): the
                        # captured writer and the re-locker may still
                        # run concurrently — warn loudly so the overlap
                        # is diagnosable rather than silent.
                        import warnings as _warnings

                        _warnings.warn(
                            f"stale-lock break on {target_path} captured"
                            " a freshly recreated lock and could not"
                            " hand it back: the displaced writer and"
                            " the current lock holder may be running"
                            f" concurrently (aside kept at {aside})",
                            RuntimeWarning,
                            stacklevel=2,
                        )
        if not broke:
            raise ConcurrentMergeError(
                f"a writer is already active on {target_path} "
                f"({_LOCK_NAME} exists); if the previous writer crashed, "
                "pass break_stale_lock_s or remove the lock file"
            )
    owned_mtime = lock_fs.getFileStatus(lock).getModificationTime()
    return lock_fs, lock, owned_mtime


# Only sweep .broken-* asides older than this: a FRESH aside may be a
# captured active lock whose breaker is mid-hand-back (rename(lock,
# aside) happened, rename(aside, lock) imminent) — sweeping it would
# fail the hand-back and leave two writers concurrent (r9 review). A
# hand-back completes within one _acquire_lock call; an hour-old aside
# is definitively litter.
_ASIDE_SWEEP_MIN_AGE_S = 3600.0


def _release_lock(lock_fs, lock, owned_mtime) -> None:
    """Delete the lock ONLY if it is still the one we created (mtime
    witness): if our lock was broken as stale and another writer now
    holds a fresh one, deleting blindly would evict THAT writer and
    cascade a third into its critical section. Also sweeps OLD
    `.broken-*` asides left by failed stale-break hand-backs (r8
    review) — but only past _ASIDE_SWEEP_MIN_AGE_S, because a fresh
    aside may be a captured lock whose breaker is about to hand it
    back (r9 review); deleting an old aside never gates anyone, since
    only the exact lock path does."""
    import time as _time

    try:
        if (
            lock_fs.exists(lock)
            and lock_fs.getFileStatus(lock).getModificationTime()
            == owned_mtime
        ):
            lock_fs.delete(lock, False)
        aside_glob = lock.suffix(".broken-*")
        now_ms = _time.time() * 1000.0
        for st in lock_fs.globStatus(aside_glob) or []:
            age_s = (now_ms - st.getModificationTime()) / 1000.0
            if age_s > _ASIDE_SWEEP_MIN_AGE_S:
                lock_fs.delete(st.getPath(), False)
    except Exception:
        pass  # release is best-effort; a leftover lock is reclaimable


def merge_upsert(
    target_path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    version_col: str,
    partition_cols: tuple[str, ...],
    check_partition_stability: bool = False,
    break_stale_lock_s: float | None = None,
    schema_evolution: bool = False,
    delete_col: str | None = None,
) -> int:
    """MERGE `updates` into the parquet table at `target_path`.

    Latest `version_col` per key wins; at equal version the update row
    wins (idempotent re-merge). Returns the number of partitions
    rewritten.

    CDC deletes (r7): pass `delete_col=<bool column in updates>` to
    treat rows where it is true as TOMBSTONES — the Delta MERGE
    "WHEN MATCHED ... THEN DELETE" / CDC apply-changes semantics. A
    tombstone competes in the same latest-wins window as any other row
    (so a delete at version 5 beats an update at version 4, and an
    update at version 6 re-inserts the key after a version-5 delete —
    ordering within one batch or across batches is identical); if the
    tombstone wins, the key is simply absent from the rewritten slice.
    The marker column is never written to the table. Tombstones must
    carry the partition value of the row they delete (the same
    partition-stability contract updates have — a tombstone aimed at a
    key owned by an untouched partition deletes nothing, and
    `check_partition_stability=True` catches exactly that). Replaying
    a batch containing tombstones is idempotent: the winning tombstone
    is filtered out again and the rewrite converges to the same state.
    A partition whose every row is deleted is removed from disk via
    the emptied-partition path below.

    Contract: keys must be PARTITION-STABLE — an update that moves a
    key to a different partition value would leave the stale row in the
    previously-owning partition unread and unrewritten (copy-on-write
    only touches the partitions present in the batch), silently
    duplicating the key. Pass `check_partition_stability=True` to
    verify this against the live table before merging: it joins the
    update keys to the target's (key, partition) pairs — a full key
    scan of the table, the same price Delta/Hudi pay for an unindexed
    MERGE — and raises on any key owned by an untouched partition.

    NULL partition values in `updates` are rejected up front: a NULL
    never equi-matches during the touched-partition read-back, so the
    existing rows of that partition would be skipped and latest-wins
    silently disabled for them.

    Keys MAY move between two partitions that are both touched by the
    batch (e.g. a replayed multi-version batch where the entity changed
    partition): the latest-wins window spans the whole touched slice,
    so the losing row simply isn't rewritten — and if that empties a
    touched partition, its directory is explicitly deleted after the
    write (r5 ADVICE fix: dynamic partition-overwrite only rewrites
    partitions that still have rows, which would otherwise leave the
    stale copy on disk).

    Concurrency contract (r6): ONE writer per table. The whole merge is
    a read-modify-write, so interleaved merges would lose updates
    silently; a `_merge.lock` file at the table root (atomic Hadoop
    createNewFile) makes the second writer fail with
    ConcurrentMergeError instead. The lock is released on success AND
    on failure (finally); a lock orphaned by a crashed process can be
    reclaimed with `break_stale_lock_s=<seconds>` or removed by hand.
    On object stores without atomic create (S3 pre-conditional-write),
    front this with a real coordinator — the lock here is exactly the
    guard HDFS/local deployments need and a visible contract for the
    rest.

    Schema contract (r7): updates missing a column the target has is
    ALWAYS an error — rows are replaced whole, so the rewritten
    partitions would silently lose that column (the pre-r7 code did
    exactly that). Updates carrying NEW columns are an error by default
    and an EVOLUTION with `schema_evolution=True`: rewritten partitions
    gain the column (existing rows NULL-filled, the Delta/Iceberg
    add-column semantics), untouched partitions keep their old footers,
    and the target read-back uses parquet mergeSchema so later merges
    see the union schema. Readers of an evolved table must read with
    mergeSchema (or an explicit schema) — plain footer-sampling reads
    can miss post-evolution columns; `read_merged` wraps that.
    WRITERS too: once a table has evolved, EVERY later merge must keep
    passing `schema_evolution=True` (and delete_where/update_where
    their `schema_evolved=True`): under a plain read the footer sampler
    may return a pre-evolution schema, in which case the missing-column
    guard above cannot see the evolved column and a legacy batch
    without it would rewrite touched partitions minus the column —
    exactly the data loss the guard exists to stop."""
    spark = updates.sparkSession
    if delete_col is not None:
        if delete_col not in updates.columns:
            raise ValueError(
                f"delete_col {delete_col!r} is not a column of the "
                "update batch"
            )
        if delete_col in key_cols or delete_col == version_col or (
            delete_col in partition_cols
        ):
            raise ValueError(
                f"delete_col {delete_col!r} must be a dedicated marker "
                "column, not a key/version/partition column"
            )
    # The touched-partition collect, the stability check and the
    # latest-wins write all read the batch: evaluate the caller's plan
    # once. A cache the caller set up is theirs to release.
    owns_cache = updates.storageLevel == StorageLevel.NONE
    if owns_cache:
        updates = updates.persist()
    try:
        # Alongside each raw partition value, collect Spark's OWN string
        # rendering of it (cast-to-string): the emptied-directory delete at
        # the bottom must reproduce the writer's directory naming exactly,
        # and Python str() diverges from it for non-string types (True vs
        # 'true' for booleans, microsecond formatting for timestamps).
        touched = updates.select(
            *partition_cols,
            *[
                F.col(c).cast("string").alias(f"__str_{c}")
                for c in partition_cols
            ],
        ).distinct()
        touched_rows = touched.collect()  # small: one row per touched partition
        if not touched_rows:
            return 0
        for r in touched_rows:
            bad = [c for c in partition_cols if r[c] is None]
            if bad:
                raise ValueError(
                    f"NULL partition value(s) {bad} in update batch — "
                    "partition columns must be non-NULL for copy-on-write MERGE"
                )

        # ---- single-writer critical section -------------------------------
        # Everything between the target read and the emptied-partition
        # delete is read-modify-write and must not interleave with another
        # writer (shared across merge_upsert and delete_where — they mutate
        # the same partitions, so they exclude each other too).
        lock_fs, lock, lock_mtime = _acquire_lock(
            spark, target_path, break_stale_lock_s
        )
        try:
            # mergeSchema only when evolving: it reads every file footer,
            # which a 100 TB table should not pay on the default path
            target = (
                spark.read.option("mergeSchema", "true").parquet(target_path)
                if schema_evolution
                else spark.read.parquet(target_path)
            )

            # ---- schema contract -----------------------------------------
            if delete_col is not None and delete_col in target.columns:
                # the table PERSISTS its tombstones (streaming/cdc.py) —
                # destructive apply would filter out winning persisted
                # tombstones (reopening the resurrection window) and drop
                # the marker column from rewritten partitions only,
                # diverging per-partition schemas. Deletes on such tables
                # are plain merges of marker rows; purging is
                # delete_where/purge_tombstones' job.
                raise ValueError(
                    f"delete_col {delete_col!r} is a column of the TARGET "
                    "table (persisted tombstones) — merge the marker rows "
                    "without delete_col and purge via purge_tombstones()"
                )
            lost = [c for c in target.columns if c not in updates.columns]
            if lost:
                raise ValueError(
                    f"update batch is missing target column(s) {lost}: rows "
                    "are replaced whole, so merging would drop them from "
                    "every rewritten partition"
                )
            new_cols = [
                c
                for c in updates.columns
                if c not in target.columns and c != delete_col
            ]
            if new_cols and not schema_evolution:
                raise ValueError(
                    f"update batch adds new column(s) {new_cols}; pass "
                    "schema_evolution=True to evolve the table"
                )

            # touched-partition predicate: a disjunction of partition-value
            # conjunctions, which Catalyst folds into partition pruning
            # (PartitionFilters in the scan). eqNullSafe so that target rows
            # sitting in a NULL partition (written before the non-NULL guard, or
            # by another writer) evaluate to a definite false, not NULL — the
            # stability check below negates this predicate, and ~NULL would
            # silently drop those rows from the foreign set (r5 ADVICE fix; the
            # old `isin` formulation had exactly that blind spot).
            pred = None
            for r in touched_rows:
                conj = None
                for c in partition_cols:
                    term = F.col(c).eqNullSafe(F.lit(r[c]))
                    conj = term if conj is None else (conj & term)
                pred = conj if pred is None else (pred | conj)

            if check_partition_stability:
                # keys present in the table but owned by a NON-touched partition
                # (including a NULL one) must not appear in the update batch.
                foreign = target.select(*key_cols, *partition_cols).filter(~pred)
                movers = (
                    updates.select(*key_cols)
                    .distinct()
                    .join(foreign, list(key_cols), "inner")
                    .limit(5)
                    .collect()
                )
                if movers:
                    raise ValueError(
                        "partition-unstable keys (exist in a partition the batch "
                        f"does not touch): {[tuple(m[k] for k in key_cols) for m in movers]}"
                    )

            # Align the read-back slice to the update batch's schema: partition
            # values live in directory names, and Spark's partition-type
            # inference only covers numeric/date/timestamp/string — a boolean
            # (or other uninferred) partition column reads back as STRING and
            # would fail the union below. The cast is a no-op where types
            # already match. Evolved-in columns the target has never seen
            # read back as typed NULLs (add-column semantics).
            existing = target.filter(pred).select(
                *[
                    (
                        F.col(f.name).cast(f.dataType)
                        if f.name in target.columns
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in updates.schema.fields
                ]
            )

            merged = existing.withColumn("_src", F.lit(0)).unionByName(
                updates.withColumn("_src", F.lit(1))
            )
            # Window order must determinize the winner for ANY input, not just
            # well-behaved ones: a replayed batch can carry the same key twice at
            # the same version (even in different partitions). The plan below
            # runs once, and the surviving partitions are observed by that same
            # run; the row-hash tail still makes row_number a pure function of
            # row values, so a replayed batch or a retried task picks the same
            # winner rather than one left to shuffle fetch order.
            # xxhash64 rejects map-typed columns at analysis time; for schemas
            # containing one, hash the row's JSON rendering instead (slower, but
            # merge isn't a hot path and the determinism guarantee must hold for
            # every schema the warehouse accepts).
            row_cols = [F.col(c) for c in updates.columns]
            if any("map<" in f.dataType.simpleString() for f in updates.schema.fields):
                tiebreak = F.xxhash64(F.to_json(F.struct(*row_cols)))
            else:
                tiebreak = F.xxhash64(*row_cols)
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(version_col).desc(),
                F.col("_src").desc(),
                tiebreak,
            )
            latest = (
                merged.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_src")
            )
            if delete_col is not None:
                # a winning tombstone removes its key from the rewritten
                # slice; existing rows carry a NULL marker (aligned above)
                # which coalesces to "keep". The marker never hits disk.
                latest = latest.filter(
                    ~F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
                ).drop(delete_col)
            # a touched partition every row of which lost latest-wins to a
            # row in another touched partition is cleared by the rewrite
            _rewrite_touched(spark, latest, target_path, partition_cols,
                             touched_rows)
            return len(touched_rows)
        finally:
            _release_lock(lock_fs, lock, lock_mtime)

    finally:
        if owns_cache:
            updates.unpersist()


def _rewrite_touched(
    spark, df: DataFrame, target_path: str, partition_cols: tuple[str, ...],
    touched_rows,
) -> None:
    """Dynamic-overwrite the partitions `df` holds rows for, then delete
    the directories of `touched_rows` partitions it holds none for:
    dynamic overwrite never sees a partition that lost every row.

    The surviving partitions are observed during the write itself (one
    set entry per partition — bounded by the touched count, so the
    observed result stays small at warehouse scale), so `df`'s plan runs
    once.
    Write-then-delete order keeps the table recoverable if the write
    fails mid-way."""
    obs = Observation()
    overwrite_partitions(
        df.observe(obs, F.collect_set(F.struct(*partition_cols)).alias("parts")),
        target_path,
        partition_cols,
    )
    remaining = {tuple(p) for p in obs.get["parts"]}
    emptied = [
        r
        for r in touched_rows
        if tuple(r[c] for c in partition_cols) not in remaining
    ]
    _delete_partition_dirs(spark, target_path, partition_cols, emptied)


def _delete_partition_dirs(
    spark, target_path: str, partition_cols: tuple[str, ...], rows
) -> None:
    """Remove the partition directories named by `rows` (which carry
    both raw values and the writer's `__str_<col>` renderings).

    Hadoop FS API, so the same code path works on HDFS/S3A, not just
    local disk. Spark escapes partition values in directory names (Hive path
    escaping: '=', ':', '%', '#', '/', control chars → %XX), so the
    delete path must be built with the SAME escaping or it silently
    misses the directory (fs.delete of a nonexistent path returns
    False) and the stale copy this delete exists to clear survives.
    Use Spark's own escapePathName so the two can never drift."""
    if not rows:
        return
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    esc = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for r in rows:
        # a NULL partition value (possible via delete_where on tables
        # other writers produced; merge rejects them on ingest) lands in
        # Spark's default-partition directory
        segs = [
            (
                f"{c}={esc.escapePathName(r[f'__str_{c}'])}"
                if r[f"__str_{c}"] is not None
                else f"{c}=__HIVE_DEFAULT_PARTITION__"
            )
            for c in partition_cols
        ]
        p = jvm.org.apache.hadoop.fs.Path(target_path, "/".join(segs))
        fs = p.getFileSystem(hconf)
        # An emptied partition that never existed on disk (all of a
        # brand-new partition's rows lost latest-wins) is fine; an
        # EXISTING directory that fails to delete is not — the stale
        # duplicate this delete exists to clear would silently survive
        # (r6 ADVICE fix: check the result).
        if fs.exists(p) and not fs.delete(p, True):
            raise RuntimeError(
                f"failed to delete emptied partition directory {p}"
            )
        # walk up multi-column partition paths and drop parent
        # directories the leaf delete emptied (day=a/region=us →
        # day=a), so directory-listing tooling never sees hollow
        # intermediate levels (r6 ADVICE fix).
        for depth in range(len(segs) - 1, 0, -1):
            parent = jvm.org.apache.hadoop.fs.Path(
                target_path, "/".join(segs[:depth])
            )
            if fs.exists(parent) and len(fs.listStatus(parent)) == 0:
                fs.delete(parent, False)
            else:
                break


def delete_where(
    spark,
    target_path: str,
    condition,
    partition_cols: tuple[str, ...],
    break_stale_lock_s: float | None = None,
    schema_evolved: bool = False,
) -> int:
    """Conditional DELETE (Delta's `DELETE FROM t WHERE ...`) over the
    partitioned-parquet warehouse — copy-on-write, rewriting ONLY the
    partitions that contain matching rows. Returns the number of
    partitions rewritten (0 if nothing matched).

    `condition` is a pyspark Column (or SQL string) selecting the rows
    to REMOVE. Rows where it evaluates to NULL are kept — a DELETE must
    never drop a row the predicate didn't affirmatively match.

    Scale: one scan to find the touched partitions (partition-pruned
    when the condition constrains partition columns — Catalyst does
    this for free), then a pruned rewrite of just those partitions;
    cost is O(matching partitions), independent of table size. A
    partition whose every row matches is removed from disk entirely
    (same emptied-directory path MERGE uses). Shares MERGE's
    single-writer lock: a concurrent merge/delete pair would otherwise
    race read-modify-write on the same directories.

    Tables evolved with `merge_upsert(schema_evolution=True)` MUST be
    rewritten with `schema_evolved=True`: the default footer-sampling
    read can return a pre-evolution schema, and a copy-on-write rewrite
    under that schema would permanently drop the evolved column from
    every rewritten partition. Same contract as `read_merged` — once a
    table has evolved, every reader AND writer pays mergeSchema.

    This is also the CDC tombstone-retention primitive: see
    `purge_tombstones` for the guarded wrapper."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    lock_fs, lock, lock_mtime = _acquire_lock(
        spark, target_path, break_stale_lock_s
    )
    try:
        target = (
            spark.read.option("mergeSchema", "true").parquet(target_path)
            if schema_evolved
            else spark.read.parquet(target_path)
        )
        # discovery uses the RAW condition: filter() already excludes
        # NULL-evaluating rows, and — unlike a coalesce(cond, false)
        # wrapper — the bare predicate stays pushable, so a condition
        # constraining partition columns prunes this scan at planning
        # time (plan-gated in tests/test_plans.py; the first draft
        # wrapped it and silently scanned the whole table)
        touched_rows = (
            target.filter(cond)
            .select(
                *partition_cols,
                *[
                    F.col(c).cast("string").alias(f"__str_{c}")
                    for c in partition_cols
                ],
            )
            .distinct()
            .collect()  # small: one row per touched partition
        )
        if not touched_rows:
            return 0
        pred = None
        for r in touched_rows:
            conj = None
            for c in partition_cols:
                term = F.col(c).eqNullSafe(F.lit(r[c]))
                conj = term if conj is None else (conj & term)
            pred = conj if pred is None else (pred | conj)
        # the keep side must RETAIN NULL-evaluating rows (~NULL is NULL
        # and would drop them), hence the coalesce — pruning is already
        # done by `pred`, so the wrapper costs nothing here
        keep = target.filter(pred).filter(
            ~F.coalesce(cond.cast("boolean"), F.lit(False))
        )
        _rewrite_touched(spark, keep, target_path, partition_cols,
                         touched_rows)
        return len(touched_rows)
    finally:
        _release_lock(lock_fs, lock, lock_mtime)


def update_where(
    spark,
    target_path: str,
    condition,
    assignments: dict,
    partition_cols: tuple[str, ...],
    break_stale_lock_s: float | None = None,
    schema_evolved: bool = False,
) -> int:
    """Conditional UPDATE (Delta's `UPDATE t SET ... WHERE ...`) —
    copy-on-write, rewriting only partitions containing matches; with
    `delete_where` and `merge_upsert` this completes the warehouse DML
    triad. Returns partitions rewritten.

    `assignments` maps column name -> new value (a Column, or a SQL
    expression string evaluated against the row — so `{"value":
    "value * 2"}` works). Assigned columns must already exist and must
    not be partition columns: changing a row's partition value under
    copy-on-write would need to MOVE the row between directories, which
    is `merge_upsert`'s job (delete + reinsert), not an in-place
    rewrite's. Rows where the condition is NULL are left unmodified,
    matching delete_where's affirmative-match rule. Schema-evolved
    tables MUST pass `schema_evolved=True` (see delete_where — a
    plain-footer rewrite can silently drop evolved columns)."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    lock_fs, lock, lock_mtime = _acquire_lock(
        spark, target_path, break_stale_lock_s
    )
    try:
        target = (
            spark.read.option("mergeSchema", "true").parquet(target_path)
            if schema_evolved
            else spark.read.parquet(target_path)
        )
        bad = [c for c in assignments if c not in target.columns]
        if bad:
            raise ValueError(f"assigned column(s) {bad} not in the table")
        parts = [c for c in assignments if c in partition_cols]
        if parts:
            raise ValueError(
                f"cannot assign partition column(s) {parts}: moving rows "
                "between partitions is a MERGE (delete + reinsert), not "
                "an in-place update"
            )
        # raw condition: pushable/prunable for discovery (see
        # delete_where); the when() below already treats a NULL
        # condition as "not matched", leaving the row unmodified
        touched_rows = (
            target.filter(cond)
            .select(*partition_cols)
            .distinct()
            .collect()
        )
        if not touched_rows:
            return 0
        pred = None
        for r in touched_rows:
            conj = None
            for c in partition_cols:
                term = F.col(c).eqNullSafe(F.lit(r[c]))
                conj = term if conj is None else (conj & term)
            pred = conj if pred is None else (pred | conj)
        updated = target.filter(pred).select(
            *[
                (
                    F.when(
                        cond,
                        (
                            F.expr(assignments[c])
                            if isinstance(assignments[c], str)
                            else assignments[c]
                        ).cast(f.dataType),
                    ).otherwise(F.col(c)).alias(c)
                    if c in assignments
                    else F.col(c)
                )
                for c, f in zip(target.columns, target.schema.fields)
            ]
        )
        # an update never empties a partition (rows are modified, not
        # removed), so no emptied-directory pass is needed
        overwrite_partitions(updated, target_path, partition_cols)
        return len(touched_rows)
    finally:
        _release_lock(lock_fs, lock, lock_mtime)


def purge_tombstones(
    spark,
    target_path: str,
    delete_col: str,
    partition_cols: tuple[str, ...],
    up_to_version=None,
    version_col: str | None = None,
    break_stale_lock_s: float | None = None,
    schema_evolved: bool = False,
    purge_all: bool = False,
) -> int:
    """Remove persisted CDC tombstones (see `streaming/cdc.py`) from a
    table — the retention rewrite. ONLY safe for tombstones older than
    the transport's maximum delivery lag: purging a tombstone reopens
    the resurrection window for pre-delete upserts still in flight, so
    the purge must be bounded with `up_to_version` (tombstones with
    `version_col` <= it); an unbounded purge of everything requires the
    explicit `purge_all=True` opt-out.

    Tables evolved with `merge_upsert(schema_evolution=True)` MUST pass
    `schema_evolved=True` — forwarded to `delete_where`, whose default
    footer-sampling read could otherwise rewrite touched partitions
    under a pre-evolution schema and permanently drop evolved columns.
    """
    cond = F.col(delete_col).cast("boolean")
    if up_to_version is not None:
        if version_col is None:
            raise ValueError("up_to_version requires version_col")
        cond = cond & (F.col(version_col) <= F.lit(up_to_version))
    elif not purge_all:
        raise ValueError(
            "unbounded purge reopens the tombstone resurrection window "
            "for in-flight pre-delete upserts; pass up_to_version (with "
            "version_col) or opt out explicitly with purge_all=True"
        )
    return delete_where(
        spark,
        target_path,
        cond,
        partition_cols,
        break_stale_lock_s=break_stale_lock_s,
        schema_evolved=schema_evolved,
    )


def read_merged(spark, target_path: str) -> DataFrame:
    """Read a merge target whose schema may have evolved: parquet
    mergeSchema unions every file footer, so partitions written before
    an add-column evolution contribute typed NULLs for the new columns
    instead of silently narrowing the schema to whichever footer the
    plain reader sampled. Pay it only on evolved tables — it lists and
    reads all footers."""
    return spark.read.option("mergeSchema", "true").parquet(target_path)
