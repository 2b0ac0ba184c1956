"""Committed-batch ledger: the one commit protocol behind every
exactly-once streaming store — the append sink, the semantic-verdict,
canonical-dedup and text-stats stores (streaming/pipeline.py) and the
composed curation store (streaming/curation.py). Writers, readers,
compactors and tools/compact_stores.py all go through this module; no
other module spells out a marker name, a partition dir name or a rename.

On-disk format
--------------
A store is a directory of FAMILIES, each a parquet dataset partitioned
by ``batch_id``, next to the store's ledger::

    <store>/<family>/batch_id=<part>/part-*.parquet
    <store>/_ledger/batch-<part>

``<part>`` is ``<gen>-<N>``: ``<gen>`` is the first 8 hex digits of
the md5 of the writer's absolute checkpoint path and of the query id
in the checkpoint's ``metadata`` file, ``<N>`` Spark's micro-batch id.
Batch ids restart at 0 under a fresh checkpoint, so without the
generation a prior run's ``batch-0`` would swallow the new run's first
batch. The path alone is not enough: a checkpoint deleted and
re-created at the same path gets a new query id, and so a new
generation, while a restart of the same checkpoint keeps both. The
append sink keeps bare ``<N>`` parts and a sibling ``<table>._ledger``
(a re-ingest under a fresh checkpoint must hit the old markers), and
stores written by older code carry bare numeric parts too — readers
cast the partition column to string before comparing. A compaction's
part is ``compact-<12 hex>``.

An ordinary marker's body is ``committed``; a compaction marker's body
is the JSON manifest ``{"replaces": [<part>, ...]}``. Every marker, and
every single-file stamp a store keeps (``_meta/evalfp``,
``_drift_bucketing_version``), is written as ``<path>._tmp`` and then
renamed into place (:func:`atomic_write`), so a reader sees the whole
file or none of it. A ``._tmp`` file is never a marker.

A part is COMMITTED iff its marker exists and no compaction marker's
manifest lists it (:func:`committed_batches`). Readers see committed
parts only, filtering on the partition column (metadata-only).

Crash matrix
------------
Writer, per micro-batch: skip the batch if its marker exists, else
write every family's partition (overwrite mode), then the marker.

- crash before the marker: the partitions are uncommitted. Readers
  skip them; the next writer start's :func:`heal` deletes them; a
  same-checkpoint replay overwrites them, never appends twice.

Compaction (:func:`compact`, single writer, no concurrent ingest):
heal, write each family's merge of the committed parts to
``batch_id=compact-<tok>``, commit the manifest marker, then drop each
replaced part (marker first, then partitions).

- (a) crash before the manifest is written: uncommitted compact
  partitions — skipped by readers, deleted by heal. Store unchanged.
- (b) crash after the manifest's rename: readers already exclude the
  replaced parts through the manifest, so nothing double-counts; the
  next heal (writer start or compaction) drops them. Marker-first
  removal means a crash there leaves only marker-less partitions,
  which heal deletes; the reverse order would leave committed markers
  with no data.
- (c) crash between writing ``batch-compact-<tok>._tmp`` and its
  rename: the ``._tmp`` manifest is not a marker, so readers, heals and
  compactors ignore it and the store is unchanged; heal deletes it
  with its ``compact-<tok>`` partitions.

SINGLE-WRITER ASSUMPTION: one streaming query (or one compactor) owns a
store at a time. Heal deletes every uncommitted partition, so a second
concurrent writer would lose its in-flight batch. A read racing a
restarting writer's heal can see a partition listed, then deleted.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PARTITION_COL = "batch_id"
_PART_PREFIX = _PARTITION_COL + "="
_MARKER_PREFIX = "batch-"
_TMP_SUFFIX = "._tmp"
_COMPACT_PREFIX = "compact-"


def _generation(checkpoint_dir: str) -> str:
    """Stable per checkpoint, distinct across checkpoints, including one
    re-created at the same path. Spark writes ``<checkpoint>/metadata``
    (``{"id": <query id>}``) when the query first starts and keeps it
    across restarts, so this is called once the query runs."""
    path = os.path.abspath(checkpoint_dir)
    with open(os.path.join(path, "metadata")) as fh:
        query_id = json.load(fh)["id"]
    return hashlib.md5(f"{path}|{query_id}".encode()).hexdigest()[:8]


def atomic_write(path: str, text: str) -> None:
    """Write ``path`` through ``<path>._tmp`` and a rename — atomic on
    POSIX, so readers never see a partial file."""
    tmp = path + _TMP_SUFFIX
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, path)


def ledger_dir(store_dir: str) -> str:
    return store_dir.rstrip("/") + "/_ledger"


def _marker(ledger: str, part) -> str:
    return os.path.join(ledger, f"{_MARKER_PREFIX}{part}")


def is_committed(ledger: str, part) -> bool:
    """Whether ``part`` has a marker in ``ledger`` (the writers'
    replay check)."""
    return os.path.exists(_marker(ledger, part))


def commit(ledger: str, part, body: str = "committed") -> None:
    """The commit point of ``part``: its marker lands atomically."""
    os.makedirs(ledger, exist_ok=True)
    atomic_write(_marker(ledger, part), body)


def _markers(store_dir: str) -> list[str]:
    ledger = ledger_dir(store_dir)
    if not os.path.isdir(ledger):
        return []
    return [
        e[len(_MARKER_PREFIX):]
        for e in os.listdir(ledger)
        if e.startswith(_MARKER_PREFIX) and not e.endswith(_TMP_SUFFIX)
    ]


def is_compaction(part: str) -> bool:
    return part.startswith(_COMPACT_PREFIX)


def _replaces(store_dir: str, part: str) -> list[str]:
    if not is_compaction(part):
        return []
    path = _marker(ledger_dir(store_dir), part)
    try:
        with open(path) as fh:
            return json.load(fh).get("replaces", [])
    except (OSError, ValueError) as exc:  # pragma: no cover - disk corruption
        # Skipping the exclusion would count BOTH the compact partition
        # and the parts it replaced. The tmp+rename commit makes an
        # unreadable manifest disk-corruption-only, which is exactly
        # when the store must refuse to answer rather than answer wrong.
        raise RuntimeError(
            f"corrupt compaction manifest {path}: refusing to merge "
            "(replaced batches would double-count)"
        ) from exc


def committed_batches(store_dir: str) -> list[str]:
    """The store's committed parts, sorted: live markers minus every
    part a compaction manifest replaces."""
    live = _markers(store_dir)
    out = set(live)
    for part in live:
        out -= set(_replaces(store_dir, part))
    return sorted(out)


def ever_committed(store_dir: str) -> set[str]:
    """Every part the store has ever committed: live markers plus the
    parts compactions replaced (committed once, merged since)."""
    out: set[str] = set()
    for part in _markers(store_dir):
        out.add(part)
        out |= set(_replaces(store_dir, part))
    return out


def is_partition(name: str) -> bool:
    """Whether a directory entry is a family partition."""
    return name.startswith(_PART_PREFIX)


def partition_path(root: str, part) -> str:
    return os.path.join(root, f"{_PART_PREFIX}{part}")


def partitions(root: str) -> list[str]:
    """Parts with a partition dir under family dir ``root``."""
    if not os.path.isdir(root):
        return []
    return [e[len(_PART_PREFIX):] for e in os.listdir(root) if is_partition(e)]


def _has_partitions(root: str) -> bool:
    """Whether family dir ``root`` holds any partition — heal can leave
    it empty, and reading an empty dir fails parquet schema inference."""
    return bool(partitions(root))


def drop_batch(store_dir: str, part: str, families) -> None:
    """Remove ``part`` from the store: marker first, then its partition
    in every family, so a crash in between only leaves marker-less
    partitions, which heal deletes."""
    marker = _marker(ledger_dir(store_dir), part)
    if os.path.exists(marker):
        os.remove(marker)
    for fam in families:
        d = partition_path(os.path.join(store_dir, fam), part)
        if os.path.isdir(d):
            shutil.rmtree(d)


def heal(store_dir: str, families) -> None:
    """Bring the store to its committed state: finish interrupted
    compactions (window b), delete ``._tmp`` leftovers (window c) and
    every uncommitted partition of ``families``. Idempotent. Runs
    before a writer's first batch and before every compaction, so
    stores whose own readers scan a family raw never see a compact
    partition next to the parts it replaced."""
    ledger = ledger_dir(store_dir)
    if os.path.isdir(ledger):
        for e in os.listdir(ledger):
            if e.endswith(_TMP_SUFFIX):
                os.remove(os.path.join(ledger, e))
    # read every manifest before dropping anything: a compaction can
    # replace an earlier compaction, whose marker then goes first
    replaced = {old for part in _markers(store_dir) for old in _replaces(store_dir, part)}
    for old in sorted(replaced):
        drop_batch(store_dir, old, families)
    keep = set(committed_batches(store_dir))
    for fam in families:
        root = os.path.join(store_dir, fam)
        for part in partitions(root):
            if part not in keep:
                shutil.rmtree(partition_path(root, part))


def _scan(spark, root: str, parts) -> DataFrame:
    # string compare: legacy bare-numeric parts infer an int column
    return (
        spark.read.parquet(root)
        .filter(F.col(_PARTITION_COL).cast("string").isin(list(parts)))
        .drop(_PARTITION_COL)
    )


def read_committed(spark, root: str, parts, schema: str) -> DataFrame:
    """Rows of family dir ``root`` in ``parts`` (normally
    :func:`committed_batches`), without the partition column; an EMPTY
    frame of ``schema`` when there is nothing to read."""
    if not parts or not _has_partitions(root):
        return spark.createDataFrame([], schema)
    return _scan(spark, root, parts)


def read_others(spark, root: str, part: str, schema: str | None = None):
    """Inside a writer, after heal: every partition of ``root`` except
    ``part``'s own (a replay must not see its crashed attempt's
    output), or None when ``root`` has no partitions. The partition
    column compares as a string: a legacy store's bare numeric parts
    infer an int column, and ``int != '<gen>-<N>'`` is NULL, which
    would silently drop every stored row."""
    if not _has_partitions(root):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(root).filter(
        F.col(_PARTITION_COL).cast("string") != F.lit(part)
    )


def start_writer(stream_df: DataFrame, store_dir: str, checkpoint_dir: str, heal_store, write):
    """Start a ledgered store's availableNow foreachBatch query. Per
    micro-batch: ensure the ledger dir, run ``heal_store()`` and read
    the checkpoint's generation once per query, skip a committed part,
    else call ``write(batch_df, part)`` and commit the part's marker if
    it returns True (False: nothing was written, e.g. an empty batch)."""
    ledger = ledger_dir(store_dir)
    gen: list[str] = []

    def run(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(ledger, exist_ok=True)
        if not gen:
            heal_store()
            gen.append(_generation(checkpoint_dir))
        part = f"{gen[0]}-{batch_id}"
        if is_committed(ledger, part):
            return
        if write(batch_df, part):
            commit(ledger, part)

    return (
        stream_df.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact(
    spark,
    store_dir: str,
    families: dict,
    coalesce_one: bool,
    _crash_after_marker: bool = False,
) -> int:
    """Merge the store's committed parts into ONE ``compact-<tok>``
    partition per family, committed by a replaces manifest (see the
    crash matrix above). ``families`` maps each family dir to its merge
    function over the committed rows (partition column dropped).
    Returns the number of parts replaced (0: nothing to do). A
    compacted part is itself committed, so the next compaction folds
    it in."""
    if not os.path.isdir(ledger_dir(store_dir)):
        return 0
    heal(store_dir, families)
    committed = committed_batches(store_dir)
    if len(committed) <= 1:
        return 0
    token = _COMPACT_PREFIX + hashlib.md5("|".join(committed).encode()).hexdigest()[:12]
    wrote_any = False
    for fam, merge_fn in families.items():
        root = os.path.join(store_dir, fam)
        if not _has_partitions(root):
            continue
        merged = merge_fn(_scan(spark, root, committed))
        if coalesce_one:
            merged = merged.coalesce(1)
        merged.write.mode("overwrite").parquet(partition_path(root, token))
        wrote_any = True
    if not wrote_any:
        return 0
    commit(ledger_dir(store_dir), token, json.dumps({"replaces": committed}))
    if _crash_after_marker:  # test-only crash injection (window b)
        return len(committed)
    for old in committed:
        drop_batch(store_dir, old, families)
    return len(committed)
