"""Versioned parquet snapshots with manifest-swap atomicity.

A minimal lake-table layer for training-data reproducibility — the
capability a 100 TB curation pipeline needs from its sink that plain
``df.write.parquet`` cannot give: *which exact rows did run N train
on?*  Plain parquet directories are mutable in place (an overwrite
deletes files while readers may be mid-scan) and carry no lineage.

Layout::

    table_dir/
      v=1/part-*.parquet      # immutable once published
      v=2/part-*.parquet
      _manifest.json          # {"current": 2, "versions": {...}}

Write protocol: data lands in a NEW ``v=N`` directory (never touching
published files), then the manifest is committed through a pluggable
CAS publisher (:func:`flock_publisher` by default): an exclusive lock
serializes load → mutate → write-to-temp + ``os.replace``, so the
precondition a writer checks and the swap it performs are ONE atomic
step — a concurrent reader sees either the old manifest or the new
one, never a torn file, and a concurrent WRITER can neither erase an
entry nor double-allocate a version.  On object stores the same
contract is a ``GET (etag) → mutate → conditional PUT (If-Match)``
retry loop — implement it against :data:`manifest_publisher`'s
signature; the data-files-are-immutable property is what makes the
single-small-manifest commit sufficient either way (the Delta/Iceberg
core idea, reduced to its minimum).

Readers resolve the version through the manifest (or pin an explicit
``version=`` for time travel), so a half-written ``v=N`` directory is
invisible until its manifest entry lands.  Snapshots are immutable:
retrain-on-v3 months later reads byte-identical input.

Concurrency contract: INDEPENDENT snapshot publishes (plain
:func:`write_snapshot`) are safe from any number of writers — the
publisher reallocates a taken version number under the lock, so every
racer's version survives.  DERIVED writes (:func:`merge_snapshot`,
:func:`compact_snapshot`) are optimistic: they pin the base version
they read via ``expected_current`` and raise
:class:`ConcurrentWriteError` if the table moved — the caller retries
against the new current (both writers' changes then land; nothing is
ever silently lost).  There is still no row-level commit arbitration —
`streaming/sinks.py::start_partition_upsert_sink` covers the
incremental-merge shape.  Scale: the manifest is O(versions) bytes and
the listing never globs data files, so resolution cost is independent
of table size.
"""

from __future__ import annotations

import errno
import fcntl
import json
import os
import shutil
import tempfile
import time
import uuid
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_manifest.json"


class ConcurrentWriteError(RuntimeError):
    """Another writer published to the table during this write — the
    single-writer deployment contract was violated.  Raised INSTEAD of
    silently erasing the other writer's manifest entry."""


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, _MANIFEST)


# A manifest publisher atomically applies ``mutate`` to the CURRENT
# manifest and persists the result: load → mutate → durable swap must
# be one step no competing commit can interleave.  ``mutate`` may raise
# ConcurrentWriteError to veto the commit (precondition failure), may
# be invoked more than once by retrying publishers (object-store
# If-Match loops), and therefore must keep its side effects idempotent.
ManifestMutator = Callable[[dict], dict]
ManifestPublisher = Callable[[str, ManifestMutator], dict]


def flock_publisher(table_dir: str, mutate: ManifestMutator) -> dict:
    """Default CAS publisher for POSIX filesystems: an exclusive
    ``fcntl.flock`` on ``table_dir/._manifest.lock`` serializes the
    whole read-modify-write, and the manifest itself still lands via
    fsync'd-temp + ``os.replace`` so lock-less READERS keep their
    torn-file-free guarantee.  An object-store deployment swaps this
    for a ``GET (etag/generation) → mutate → conditional PUT
    (If-Match)`` loop with the same signature — the lock file is the
    filesystem spelling of the store's conditional write."""
    os.makedirs(table_dir, exist_ok=True)
    with open(os.path.join(table_dir, "._manifest.lock"), "a+") as lk:
        fcntl.flock(lk.fileno(), fcntl.LOCK_EX)
        manifest = mutate(_load_manifest(table_dir))
        fd, tmp = tempfile.mkstemp(dir=table_dir, prefix="._manifest-")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, _manifest_path(table_dir))
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
        return manifest
        # flock released when ``lk`` closes


#: Module default; swap for an object-store conditional-PUT
#: implementation in deployments without POSIX rename/flock semantics.
manifest_publisher: ManifestPublisher = flock_publisher


def _load_manifest(table_dir: str) -> dict[str, Any]:
    path = _manifest_path(table_dir)
    if not os.path.exists(path):
        return {"current": 0, "versions": {}}
    with open(path) as f:
        return json.load(f)


def _write_data(
    df: DataFrame, data_dir: str, partition_by: list[str] | None
) -> None:
    """The unpublished data write (seam for the concurrency test)."""
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    *,
    partition_by: list[str] | None = None,
    note: str = "",
    txn: tuple[str, int] | None = None,
    checks: dict[str, Column] | None = None,
    expected_current: int | None = None,
    publisher: ManifestPublisher | None = None,
) -> int:
    """Publish ``df`` as the next version of ``table_dir`` and return
    the new version number.  The data write happens entirely inside an
    unpublished ``v=N`` directory; publication is the atomic manifest
    commit at the end (:data:`manifest_publisher`, or ``publisher=``) —
    a reader racing this call resolves either the previous version or
    the complete new one, and a concurrent writer costs at most a
    version-number reallocation (both snapshots survive).

    ``expected_current`` pins the base version this write DERIVES from
    (merge/compact): the commit is vetoed with
    :class:`ConcurrentWriteError` if the table's current version moved,
    because publishing content computed from a stale base would drop
    the competing writer's rows; retry from the new current.  Leave
    ``None`` for independent snapshots.

    ``checks={name: boolean Column}`` are CHECK constraints (the
    Delta idea): every row of the version must satisfy every
    expression or the publish is ABORTED — the data directory is
    removed, the manifest untouched, and a ValueError names each
    violated check with its row count.  Validation rides the SAME
    read-back pass that counts the written files (one fused
    aggregate, no extra scan), and because it runs before the swap a
    failed batch is simply invisible — no reader can ever observe a
    constraint-violating version.  NULL check results PASS (the SQL
    CHECK convention); add ``isNotNull`` to a check to be
    NULL-strict.

    ``txn=(app_id, version)`` records an idempotence high-water mark
    in the manifest's ``stream_txn`` map IN THE SAME atomic swap (the
    Delta txnAppId/txnVersion idea): the mark and the data version
    become visible together, so a writer that crashes between them
    cannot exist, and the mark survives compaction and VACUUM (which
    touch only the versions map).  Used by
    ``streaming/sinks.py::start_snapshot_sink``."""
    os.makedirs(table_dir, exist_ok=True)
    # Data lands in a WRITER-UNIQUE staging directory; the version
    # number is allocated inside the locked commit below and the
    # staging dir renamed to ``v=N`` there — so concurrent writers can
    # never collide on a data path (each stages privately) or on a
    # number (allocation and commit are one atomic step).  A writer
    # that dies mid-write leaves an orphan ``.staging-*`` dir with no
    # manifest entry: invisible to readers (resolution goes through
    # the manifest only) and GC-able by :func:`vacuum_snapshot`.
    data_dir = os.path.join(table_dir, f".staging-{uuid.uuid4().hex}")
    _write_data(df, data_dir, partition_by)

    # Row count from the files just written (one footer-level count
    # scan), not from re-executing ``df``'s plan — re-execution could
    # be expensive and, for non-deterministic plans, wrong.  CHECK
    # constraints fuse into this same pass.
    back = df.sparkSession.read.parquet(data_dir)
    if checks:
        names = list(checks)
        row = back.agg(
            F.count(F.lit(1)).alias("__n__"),
            *[
                F.sum(
                    F.when(
                        checks[name].eqNullSafe(F.lit(False)), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias(f"__bad_{i}__")
                for i, name in enumerate(names)
            ],
        ).first()
        n_rows = int(row["__n__"]) if row is not None else 0
        violated = {
            name: int(row[f"__bad_{i}__"] or 0)
            for i, name in enumerate(names)
            if row is not None and int(row[f"__bad_{i}__"] or 0) > 0
        }
        if violated:
            shutil.rmtree(data_dir, ignore_errors=True)
            detail = ", ".join(
                f"{name} ({n} rows)" for name, n in violated.items()
            )
            raise ValueError(
                f"write_snapshot: CHECK constraint(s) violated — "
                f"{detail}; version NOT published"
            )
    else:
        n_rows = back.count()
    entry = {
        "created_unix": time.time(),
        "rows": n_rows,
        "schema": df.schema.jsonValue(),
        "partition_by": list(partition_by or []),
        "note": note,
    }
    # The publish point: an atomic read-modify-write through the CAS
    # publisher.  Decided against the manifest AS OF the commit
    # instant (no check-then-swap window):
    #
    # - independent publish (expected_current=None): the version
    #   number is allocated HERE — 1 + max(current, any v=* on disk,
    #   the latter skipping dead writers' orphans so mode("error")
    #   can never wedge the table — and the staging dir renamed to
    #   ``v=N`` under the same lock, so every racer's version
    #   survives with a distinct number.
    # - derived publish (merge/compact pass the base version they
    #   read): the commit is vetoed with ConcurrentWriteError if the
    #   table moved — publishing content computed from a stale base
    #   would silently drop the competing writer's rows; the caller
    #   retries against the new current.
    alloc: dict[str, Any] = {"version": None, "data_dir": data_dir}

    def _mutate(fresh: dict[str, Any]) -> dict[str, Any]:
        if expected_current is not None and int(fresh["current"]) != int(
            expected_current
        ):
            raise ConcurrentWriteError(
                f"write_snapshot: {table_dir} moved from base "
                f"v={expected_current} to v={fresh['current']} during "
                "this derived write — retry against the new current "
                "version"
            )
        if (
            alloc["version"] is None
            or str(alloc["version"]) in fresh["versions"]
            or int(fresh["current"]) >= alloc["version"]
        ):
            # (re)allocate — the re-branch covers retrying publishers
            # (If-Match loops) whose earlier attempt lost the race
            # after this side effect ran; the rename is idempotent via
            # the alloc bookkeeping.
            on_disk_now = [
                int(d[2:])
                for d in os.listdir(table_dir)
                if d.startswith("v=") and d[2:].isdigit()
                and os.path.join(table_dir, d) != alloc["data_dir"]
            ]
            new_version = (
                max([int(fresh["current"]), *on_disk_now], default=0) + 1
            )
            while True:
                new_dir = os.path.join(table_dir, f"v={new_version}")
                try:
                    os.rename(alloc["data_dir"], new_dir)
                    break
                except FileNotFoundError:
                    # a zero/short-retention vacuum collected our
                    # staging dir mid-write — categorize it (retention
                    # contract) instead of leaking a bare
                    # FileNotFoundError
                    raise ConcurrentWriteError(
                        f"write_snapshot: staging dir {alloc['data_dir']} "
                        "vanished before commit — a vacuum_snapshot ran "
                        "with a retention window shorter than this write; "
                        "raise min_age_s above the longest writer and retry"
                    ) from None
                except OSError as e:
                    # Lock-free publishers (object-store If-Match
                    # loops) have no mutual exclusion around this
                    # rename: a competitor may land v=N between our
                    # listing and our rename, making it fail with
                    # EEXIST/ENOTEMPTY.  Their rename won atomically;
                    # take the next number and try again (the
                    # conditional PUT below still arbitrates the
                    # manifest itself).
                    if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                        raise
                    new_version += 1
            alloc["version"], alloc["data_dir"] = new_version, new_dir
        fresh["versions"][str(alloc["version"])] = entry
        fresh["current"] = alloc["version"]
        if txn is not None:
            fresh.setdefault("stream_txn", {})[str(txn[0])] = int(txn[1])
        return fresh

    publish = publisher or manifest_publisher
    try:
        publish(table_dir, _mutate)
    except ConcurrentWriteError:
        # the staging dir (or a renamed-but-never-committed v=N) is
        # writer-unique and was never published — safe to remove,
        # UNLESS a competitor published under our very number after a
        # zero-retention vacuum collected our renamed dir and freed it
        # (retrying-publisher window): deleting then would destroy
        # their live data.
        fresh = _load_manifest(table_dir)
        if str(alloc["version"]) not in fresh["versions"]:
            shutil.rmtree(alloc["data_dir"], ignore_errors=True)
        raise
    return alloc["version"]


def read_snapshot(
    spark: SparkSession, table_dir: str, *, version: int | None = None
) -> DataFrame:
    """Read the current (or a pinned ``version=`` — time travel)
    snapshot.  Resolution goes through the manifest only; unpublished
    ``v=N`` directories are never visible."""
    manifest = _load_manifest(table_dir)
    if version is None:
        version = int(manifest["current"])
    if version < 1 or str(version) not in manifest["versions"]:
        raise ValueError(
            f"snapshot v={version} does not exist in {table_dir} "
            f"(published: {sorted(map(int, manifest['versions'])) or 'none'})"
        )
    return spark.read.parquet(os.path.join(table_dir, f"v={version}"))


def merge_snapshot(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    *,
    delete_col: str | None = None,
    note: str = "",
    txn: tuple[str, int] | None = None,
    allow_schema_evolution: bool = False,
) -> int:
    """Row-level MERGE published as a NEW snapshot version — the
    missing half of the lakehouse story between :func:`write_snapshot`
    (whole-table versions) and the streaming partition-upsert sink
    (incremental, no history): read current ``v=N``, upsert/delete by
    key, publish ``v=N+1`` atomically.  Time travel keeps working —
    ``v=N`` stays byte-identical — and a reader racing the merge sees
    the old version or the complete new one, never a mix.

    Semantics (Delta/Iceberg MERGE reduced to its keyed core):

    - a target row whose key matches an update row is REPLACED
      (or DELETED when the update row's ``delete_col`` is true);
    - an update row with no matching target key is INSERTED
      (unless delete-marked — deleting an absent key is a no-op,
      which is what makes replaying the same merge batch idempotent);
    - all other target rows carry over unchanged, including NULL-key
      rows (updates may not carry NULL keys, so they can never match).

    Validation happens in ONE aggregate over ``updates``: duplicate
    update keys are rejected (ambiguous merge — Delta raises here
    too) and NULL update keys are rejected (equi-joins drop them
    silently; a "replace the null-key row" intent needs a real key).

    ``allow_schema_evolution=True`` is Delta's ``mergeSchema``: the
    published version carries the UNION of target and update columns —
    carried-over target rows get NULL in columns only the updates
    know, and upserted rows get NULL in columns only the target knows
    (key columns must exist on both sides regardless).  Off by
    default: silent column drift is a corruption class, so it stays
    an explicit opt-in, and note that a live ``snapshot_stream``
    consumer pins the pre-evolution schema and will stop AT the
    evolved version with a restart instruction rather than misalign.

    Scale shape: copy-on-write — one anti-join of the target against
    the update KEYS (projected + distinct; AQE broadcasts it when
    small) plus a unionByName, so the merge cost is a full rewrite of
    the table, the honest baseline for immutable-version semantics.
    At partition-table scale the refinement is file-level manifests
    (rewrite only matched files); that bookkeeping is deliberately out
    of scope here, and the streaming upsert sink covers the
    high-frequency incremental shape.
    """
    if not key_cols:
        raise ValueError("merge_snapshot needs at least one key column")
    data_cols = [c for c in updates.columns if c != delete_col]
    missing = [k for k in key_cols if k not in data_cols]
    if missing:
        raise ValueError(f"key columns {missing} absent from updates")

    key_struct = F.struct(*[F.col(k) for k in key_cols])
    null_key = None
    for k in key_cols:
        cond = F.col(k).isNull()
        null_key = cond if null_key is None else (null_key | cond)
    stats = updates.select(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(key_struct).alias("n_keys"),
        F.sum(F.when(null_key, 1).otherwise(0)).alias("n_null"),
    ).first()
    if stats is None or stats["n"] == 0:
        raise ValueError("merge_snapshot: empty updates frame")
    if int(stats["n_null"] or 0) > 0:
        raise ValueError(
            f"merge_snapshot: {stats['n_null']} update rows carry NULL "
            f"key values for {key_cols} — equi-joins cannot match them"
        )
    # count_distinct skips nothing here (no NULL keys past the guard)
    if int(stats["n_keys"]) != int(stats["n"]):
        raise ValueError(
            f"merge_snapshot: duplicate keys in updates "
            f"({stats['n']} rows, {stats['n_keys']} distinct "
            f"{key_cols}) — an ambiguous merge; dedupe upstream"
        )

    upserts = updates
    if delete_col is not None:
        upserts = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)

    manifest = _load_manifest(table_dir)
    current = int(manifest["current"])
    if current == 0:
        merged = upserts
        partition_by: list[str] = []
    else:
        # pin the read to the SAME version the publish will veto
        # against — an unpinned read could see a competitor's v=N+1
        # while expected_current stays N, guaranteeing a veto AFTER
        # the full copy-on-write rewrite already ran
        target = read_snapshot(spark, table_dir, version=current)
        if set(target.columns) != set(data_cols):
            if not allow_schema_evolution:
                raise ValueError(
                    f"merge_snapshot: updates columns {sorted(data_cols)} "
                    f"!= target columns {sorted(target.columns)} — pass "
                    "allow_schema_evolution=True to publish the union "
                    "(new columns NULL-backfilled)"
                )
            # mergeSchema: union of columns, NULL-backfilled per side.
            # Order: target columns first (stable for existing
            # readers), update-only columns appended in update order.
            new_cols = [c for c in data_cols if c not in target.columns]
            for c in new_cols:
                target = target.withColumn(
                    c, F.lit(None).cast(dict(upserts.dtypes)[c])
                )
            for c in [c for c in target.columns if c not in upserts.columns]:
                upserts = upserts.withColumn(
                    c, F.lit(None).cast(dict(target.dtypes)[c])
                )
        upd_keys = updates.select(*key_cols).distinct()
        merged = target.join(upd_keys, key_cols, "left_anti").unionByName(
            upserts
        )
        partition_by = list(
            manifest["versions"][str(current)].get("partition_by", [])
        )
    return write_snapshot(
        merged,
        table_dir,
        partition_by=partition_by or None,
        note=note or f"merge on {key_cols}",
        txn=txn,
        # the merge was computed FROM this base version: veto the
        # publish if the table moved meanwhile (optimistic concurrency)
        expected_current=current,
    )


def mark_stream_txn(table_dir: str, txn: tuple[str, int]) -> None:
    """Record a streaming writer's ``(app_id, batch_id)`` high-water
    mark in the manifest WITHOUT publishing a data version — the no-op
    commit for a micro-batch that produced nothing to write (e.g. an
    all-duplicates batch in the ingest-dedup sink).  Without it the
    mark never lands, a checkpoint replay re-delivers the same batch,
    and the stream re-runs identical work forever — a poison-pill
    batch that permanently wedges the loop.

    Goes through the same CAS publisher as :func:`write_snapshot`'s
    ``txn=`` path, so concurrent data publishes and no-op marks
    serialize correctly.  Monotonic: an older batch id never regresses
    an existing mark (publishers may retry the mutator)."""
    def _mutate(fresh: dict[str, Any]) -> dict[str, Any]:
        marks = fresh.setdefault("stream_txn", {})
        marks[str(txn[0])] = max(int(marks.get(str(txn[0]), -1)), int(txn[1]))
        return fresh

    manifest_publisher(table_dir, _mutate)


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    key_cols: list[str],
    *,
    v_from: int,
    v_to: int | None = None,
    pre_images: bool = False,
) -> DataFrame:
    """Change-data-capture between two published versions: every row
    of ``v_to`` (default: current) whose key is absent from ``v_from``
    or whose non-key columns changed, plus every ``v_from`` row whose
    key disappeared — tagged ``_change in ('insert','update','delete')``
    with the NEW row values for insert/update and the OLD values for
    delete.  The incremental-consumer half of the lakehouse story:
    a downstream pipeline that processed v_from needs exactly this
    frame, not a full re-read, to catch up to v_to.

    ``pre_images=True`` switches updates to the Delta-CDF contract:
    each updated key emits TWO rows, ``update_preimage`` (the OLD
    values) and ``update_postimage`` (the NEW values), instead of one
    ``update`` row.  This is what re-aggregating consumers need — an
    update can MOVE a row between groups, so the subtract side must
    carry the old values (see ``operators/incremental.py``).

    Implementation is a single full-outer join on the keys with an
    any-column-differs predicate (null-safe: ``<=>`` semantics via
    eqNullSafe, so NULL→value and value→NULL count as changes and
    NULL==NULL does not).  Rows with NULL keys never join; they
    surface as a delete (old side) + insert (new side), the honest
    reading of an unaddressable row.  Cost: one shuffle of each
    version on the key — no state, no log replay; versions being
    immutable is what makes the diff well-defined.
    """
    if not key_cols:
        raise ValueError("snapshot_diff needs at least one key column")
    old = read_snapshot(spark, table_dir, version=v_from)
    new = read_snapshot(spark, table_dir, version=v_to)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot_diff: column sets differ between v{v_from} "
            f"{sorted(old.columns)} and the target version "
            f"{sorted(new.columns)} — diff the overlapping columns "
            "explicitly if schema evolved"
        )
    data_cols = [c for c in new.columns if c not in key_cols]
    o = old.alias("o")
    n = new.alias("n")
    cond = None
    for k in key_cols:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) & F.col(
            f"o.{k}"
        ).isNotNull()
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    # a row "exists" on a side iff ANY of its columns is non-null
    # there (an absent full-outer side is all-null); presence via keys
    # alone would misread NULL-key rows, which join nothing.
    old_any = F.lit(False)
    for c in old.columns:
        old_any = old_any | F.col(f"o.{c}").isNotNull()
    new_any = F.lit(False)
    for c in new.columns:
        new_any = new_any | F.col(f"n.{c}").isNotNull()
    changed = F.lit(False)
    for c in data_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    # One struct per side, then ONE array-of-(row, tag) per joined row
    # exploded in a single pass — the two-row update_preimage/postimage
    # form must not re-execute the full-outer join twice (Spark does
    # not CSE across two selects over the same join).
    old_s = F.struct(*[F.col(f"o.{c}").alias(c) for c in new.columns])
    new_s = F.struct(*[F.col(f"n.{c}").alias(c) for c in new.columns])

    def tagged(row: Column, tag: str) -> Column:
        return F.struct(row.alias("r"), F.lit(tag).alias("c"))

    update_arm = (
        F.array(
            tagged(old_s, "update_preimage"),
            tagged(new_s, "update_postimage"),
        )
        if pre_images
        else F.array(tagged(new_s, "update"))
    )
    rows = (
        F.when(old_any & ~new_any, F.array(tagged(old_s, "delete")))
        .when(~old_any & new_any, F.array(tagged(new_s, "insert")))
        .when(changed, update_arm)
    )
    return joined.select(F.explode(rows).alias("e")).select(
        "e.r.*", F.col("e.c").alias("_change")
    )


def _batch_partitions(spark: SparkSession) -> int:
    """The shuffle width a batch plan starts from: AQE's initial
    partition number when set (session.py sizes
    ``spark.sql.shuffle.partitions`` for stream state), else the shuffle
    partition count."""
    initial = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None
    )
    return int(initial or spark.conf.get("spark.sql.shuffle.partitions"))


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    *,
    target_files: int | None = None,
    zorder_by: list[tuple[str, float, float]] | None = None,
    zorder_bits: int = 16,
    note: str = "",
) -> int:
    """OPTIMIZE: republish the current version's CONTENT in
    ``target_files`` files (default: a quarter of the session's batch
    shuffle parallelism, at least 1) as v=N+1 — the small-file
    compaction every streaming-ingested table eventually needs.  The
    data is byte-identical row-wise (pinned by test); only the file
    layout changes, and time travel to the fragmented version keeps
    working.  Uses coalesce (no shuffle) when shrinking file count,
    repartition otherwise.

    ``zorder_by=[(col, lo, hi), ...]`` is OPTIMIZE ZORDER: the rewrite
    range-partitions and sorts by the Morton key over the declared
    bounds (``operators/partitioning.py::zorder_key``) so every listed
    column's parquet min/max file ranges tighten simultaneously —
    multi-dimensional data skipping on the compacted version (the
    pruning win is asserted as a file-count ratio in
    tests/test_partitioning.py for the key itself).  One extra range
    exchange vs plain compaction; the key is pure column arithmetic,
    no data scan to 'learn' the layout."""
    if target_files is not None and target_files < 1:
        raise ValueError(f"target_files must be >= 1, got {target_files}")
    manifest = _load_manifest(table_dir)
    current = int(manifest["current"])
    if current == 0:
        raise ValueError(f"compact_snapshot: no published version in {table_dir}")
    # pinned to the base version the publish vetoes against (same
    # contract as merge_snapshot)
    df = read_snapshot(spark, table_dir, version=current)
    meta = manifest["versions"][str(current)]
    if target_files is None:
        target_files = max(1, _batch_partitions(spark) // 4)
    if zorder_by:
        from fortymhz_spark.operators.partitioning import zorder_key

        missing = [c for c, _, _ in zorder_by if c not in df.columns]
        if missing:
            raise ValueError(
                f"zorder_by columns {missing} absent from the table "
                f"(has {sorted(df.columns)})"
            )
        key = zorder_key(list(zorder_by), bits=zorder_bits)
        out = (
            df.withColumn("__zk__", key)
            .repartitionByRange(target_files, "__zk__")
            .sortWithinPartitions("__zk__")
            .drop("__zk__")
        )
        zcols = [c for c, _, _ in zorder_by]
        default_note = (
            f"compact v{current} -> {target_files} files, zorder {zcols}"
        )
    else:
        n_now = len(df.inputFiles())
        out = (
            df.coalesce(target_files)
            if target_files <= max(n_now, 1)
            else df.repartition(target_files)
        )
        default_note = f"compact v{current} -> {target_files} files"
    return write_snapshot(
        out,
        table_dir,
        partition_by=list(meta.get("partition_by", [])) or None,
        note=note or default_note,
        # compaction rewrites THIS base version's content: a competing
        # publish mid-rewrite must veto it, not be silently shadowed
        expected_current=current,
    )


def vacuum_snapshot(
    table_dir: str,
    *,
    keep_last: int = 2,
    min_age_s: float = 0.0,
    dry_run: bool = False,
) -> dict[str, list[int] | list[str]]:
    """VACUUM: expire old published versions and garbage-collect
    orphan ``v=N`` directories (writers that died between data write
    and manifest swap), returning ``{"expired": [versions...],
    "orphans": [versions...], "kept": [versions...], "staging":
    [".staging-<hex>" dir names...]}`` — the first three hold version
    ints, ``staging`` holds the collected dead-writer staging
    directory NAMES (strings).

    Retention contract: the newest ``keep_last`` published versions
    plus ``current`` are always kept; other versions are eligible only
    once older than ``min_age_s`` (the Delta/Iceberg retention-window
    rule — a reader that resolved the manifest just before the vacuum
    may still be scanning a version's files, so production retention
    must exceed the longest-running reader; 0 is for tests and
    single-process pipelines).  Orphan directories honor the SAME
    window via directory mtime: an unpublished ``v=N`` younger than
    ``min_age_s`` may be an in-flight writer between data write and
    manifest swap, not a dead one, and is left alone.

    Protocol order is UNPUBLISH-THEN-DELETE: the manifest without the
    expired entries is swapped in atomically FIRST, so any reader
    arriving after the swap cannot resolve a version whose files are
    mid-delete; only then are the directories removed.  Orphan
    directories were never publishable (readers resolve through the
    manifest only), so deleting them needs no manifest change — and
    ``write_snapshot``'s skip-orphans version allocation means a freed
    number may be reused, which is safe for the same reason.

    Scale: manifest work is O(versions) bytes; file deletion is the
    object-store/filesystem bulk delete of unreferenced prefixes —
    never a data scan.  ``dry_run=True`` reports without touching
    manifest or files (the audit mode a 100 TB table wants first)."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    manifest = _load_manifest(table_dir)
    published = sorted(map(int, manifest["versions"]))
    current = int(manifest["current"])
    keep = set(published[-keep_last:]) | ({current} if current else set())
    now = time.time()
    expired = [
        v
        for v in published
        if v not in keep
        and now - float(manifest["versions"][str(v)].get("created_unix", 0))
        >= min_age_s
    ]
    on_disk = [
        int(d[2:])
        for d in os.listdir(table_dir)
        if os.path.isdir(os.path.join(table_dir, d))
        and d.startswith("v=")
        and d[2:].isdigit()
    ] if os.path.isdir(table_dir) else []

    def _old_enough(path: str) -> bool:
        # an unmanifested directory may belong to an IN-FLIGHT writer
        # (staging data written, locked commit pending — minutes on a
        # large batch), not a dead one; only directories older than
        # the retention window are safely dead (same contract as
        # version expiry: production retention must exceed the
        # longest writer/reader), and a dir a concurrent vacuum/writer
        # removed between listing and stat is not-collectable.
        try:
            return now - os.path.getmtime(path) >= min_age_s
        except OSError:
            return False

    def _orphans_of(m: dict[str, Any]) -> list[int]:
        return [
            v
            for v in on_disk
            if str(v) not in m["versions"]
            and _old_enough(os.path.join(table_dir, f"v={v}"))
        ]

    orphans = _orphans_of(manifest)
    # dead writers' staging dirs (write_snapshot stages data under
    # .staging-<uuid> until the locked commit renames it to v=N) —
    # same mtime retention window: a young staging dir may be an
    # in-flight writer
    staging = [
        d
        for d in (os.listdir(table_dir) if os.path.isdir(table_dir) else [])
        if d.startswith(".staging-")
        and _old_enough(os.path.join(table_dir, d))
    ]
    report = {
        "expired": expired,
        "orphans": sorted(orphans),
        "staging": sorted(staging),
        "kept": sorted(keep & set(published)),
    }
    if dry_run or not (expired or orphans or staging):
        return report

    final: dict[str, list[int]] = {"expired": [], "orphans": []}

    def _unpublish(fresh: dict[str, Any]) -> dict[str, Any]:
        # re-applied against the manifest AS OF the commit: a writer
        # may have published (moved current, renamed a staging dir to
        # v=N) since the stale sets above were computed — never expire
        # the fresh current, skip entries already gone, and REVALIDATE
        # the orphan set so a version published between our manifest
        # load and this commit is never classified dead.  Under the
        # flock publisher no writer can be inside its rename-and-commit
        # while this runs, so a v=N dir absent from the fresh manifest
        # here is genuinely dead.
        live = [
            v
            for v in expired
            if str(v) in fresh["versions"] and v != int(fresh["current"])
        ]
        for v in live:
            del fresh["versions"][str(v)]
        # Record WHICH versions retention removed (distinct from
        # never-published allocation gaps): a streaming consumer that
        # still needs one of these must fail loudly, while it can
        # safely step over a gap.  O(versions ever expired).
        prior = set(fresh.get("expired_versions", []))
        fresh["expired_versions"] = sorted(prior | set(live))
        final["expired"] = live
        # the entries just deleted above are retention-EXPIRED, not
        # dead-writer orphans — exclude them or the report
        # double-classifies every expired version
        final["orphans"] = [
            v for v in _orphans_of(fresh) if v not in set(live)
        ]
        return fresh

    if expired or orphans:
        manifest_publisher(table_dir, _unpublish)  # the unpublish point
        report["expired"] = final["expired"]
        report["orphans"] = sorted(final["orphans"])
        for v in [*final["expired"], *final["orphans"]]:
            shutil.rmtree(
                os.path.join(table_dir, f"v={v}"), ignore_errors=True
            )
    # staging dirs were never manifest-visible: deleting them needs no
    # manifest commit (a staging-only vacuum must not rewrite an
    # unchanged manifest)
    for d in staging:
        shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)
    return report


def resolve_artifact(
    table_dir: str, note_prefix: str, *, version: int | None = None
) -> tuple[int, dict[str, Any]]:
    """Resolve a typed artifact stored in a snapshot table: pick the
    requested (or current) version, validate that the lineage carries
    ``note_prefix`` (the artifact type tag every builder writes), and
    return ``(version, params)`` with the params decoded from the
    note's JSON payload.  The shared front half of every artifact
    loader (ANN index, MinHash signature index, BPE merges, unigram
    model) — one place for the version-existence and type checks, so
    a typoed or vacuumed version pin fails with a descriptive error
    instead of a bare KeyError.

    The note is searched newest-first across the lineage: derived
    versions published by MERGE (e.g. ``extend_minhash_index``) carry
    their own notes, while the type tag lives on the build version."""
    import json

    entries = snapshot_versions(table_dir)
    if not entries:
        raise ValueError(f"no published versions at {table_dir}")
    by_v = {e["version"]: e for e in entries}
    if version is None:
        version = max(by_v)
    elif version not in by_v:
        raise ValueError(
            f"snapshot v={version} does not exist at {table_dir} "
            f"(published: {sorted(by_v)})"
        )
    note = ""
    for e in reversed(entries):
        if e["version"] <= version and e.get("note", "").startswith(
            note_prefix
        ):
            note = e["note"]
            break
    if not note:
        raise ValueError(
            f"snapshot v={version} at {table_dir} is not a "
            f"{note_prefix.strip()} artifact "
            f"(note: {by_v[version].get('note', '')[:60]!r})"
        )
    return version, json.loads(note[len(note_prefix):])


def snapshot_versions(table_dir: str) -> list[dict[str, Any]]:
    """Published version metadata, oldest first: version, rows,
    created_unix, note — the audit trail for "what did run N read"."""
    manifest = _load_manifest(table_dir)
    out = []
    for v in sorted(map(int, manifest["versions"])):
        meta = dict(manifest["versions"][str(v)])
        meta["version"] = v
        meta.pop("schema", None)
        out.append(meta)
    return out
