"""The versioned-store rails: every checkpointed streaming store (the
BM25 and hybrid indexes, the curation funnel, media and semantic dedup)
lands, folds and reads through the helpers below.

BATCH DIRECTORIES. A store is a directory of `batch_id=<n>`
subdirectories, one per micro-batch, each written in overwrite mode. A
batch that did not commit replays and overwrites exactly its own
directories, so landing is idempotent and the order of a batch's
writes carries no crash meaning. The streaming checkpoint's commits/
log names the batches that can no longer replay (_committed_horizon),
and only those may fold. This is Structured Streaming's exactly-once
design: an idempotent sink plus a commit log.

THE LEDGER. Every store keeps a dp-partitioned docmeta version ledger,
(doc_id, ts, deleted, dl) per arrival with tombstones included, written
by _ledger_write. Visibility is last-write-wins by ts (_lww). Data rows
carry the ts of the version they belong to, and a row is live iff its
(key, ts) is a non-tombstone LWW winner. Requires per-doc
nondecreasing, distinct ts; a fold repairs violations globally.

  - Read time: rows are masked against the UNCOMPACTED TAIL only, the
    docmeta batches newer than the fold horizon (_tail_live,
    _mask_visible). The tail is bounded by the fold cadence, so the
    mask stays broadcast-sized whatever the corpus size. Up to
    _LOOKUP_CAP ledger rows, a serve reads the tail and its fold-side
    point lookup on the driver (_ledger_read, _lww_rows) and runs no
    Spark job for them; the store is driver-local (_assert_local_dir).
    The same driver reader (_driver_files, _driver_read) serves the
    index's postings under _POSTINGS_BUDGET, masked by the driver twin
    of the tail mask (_visible_rows). It reads only the row groups
    whose min/max covers a requested key and decides every cap from
    the parquet footers before it reads a row, so the folds keep each
    file sorted by its lookup key (_LwwStore.sort_by; doc_id in the
    ledger).
  - Fold time: data stores drop non-live rows physically
    (_compact_lww_stores), the per-dp stats snapshot is written, and
    docmeta folds to one winner row per doc with tombstones retained
    (they must suppress any not-yet-folded older version). The
    snapshot's batch id is the fold horizon (_fold_horizon).

FOLD ORDER: data stores -> stats snapshot -> docmeta. The tail mask
starts after the fold horizon, so the horizon may advance only once no
data store holds an unmasked row at or below it. A crash before the
snapshot leaves masked data stores beside an unfolded ledger, which the
tail mask re-masks harmlessly. One fold reads and aggregates the ledger
ONCE (_ledger_pass): the data stores' alive mask, the snapshot and the
docmeta fold all derive from the same persisted LWW winners.

A FOLD BESIDE A LAND. A fold of [0, n) may run at the same time as the
land of batch n only when that land is append-only: it writes its own
batch_id=n directories and reads nothing of the store. The fold reads
each store through its batch_id=<i> directories with i < n by name
(_read_batches), so it never lists a directory the land is creating,
and a failure of either leaves batch n uncommitted, to replay both. The
BM25 and hybrid indexes land that way (retrieval_index._fold_and_land).
The media, semantic and funnel lands read earlier batches of their
store (the near-dup reference set), which a fold rewrites and removes
under them, so those streams fold before they land.

CRASH STAGING. A fold writes its output under an underscore-prefixed
`_compact_tmp.batch_id=<n>` directory (Spark's file index skips it),
removes the folded originals only after the write has committed, and
then renames the staging into place. Every reader and fold refuses a
store that holds such a leftover (_assert_no_compact_leftover).

LAYOUT. dp = xxhash64(doc_id) mod _DOC_PREFIXES, and tp for terms, are
recomputed at read and fold time, so the moduli are store state: the
first land persists them in store_layout.json, and every later land,
fold and dp-pruned read asserts them.
"""

from __future__ import annotations

import json
import os
import shutil
from bisect import bisect_left
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import partial, reduce
from operator import and_, or_
from typing import NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..tables import _env_width

# Prefix-partition fan of the tp and dp layouts. Each landed batch
# writes one file per prefix directory and every pruned read opens
# them, so few wide files serve fastest at fixture scale; a store whose
# per-prefix files reach the 128 MB-1 GB band should raise the fan
# through the envs (the pruning is unchanged, only its width).
_TERM_PREFIXES = _env_width("SPARK_GRAFT_TERM_PREFIXES") or 16
_DOC_PREFIXES = _env_width("SPARK_GRAFT_DOC_PREFIXES") or 8
_LAYOUT_FILE = "store_layout.json"
_COMPACT_TMP_PREFIX = "_compact_tmp."
# Ledger point-lookup cap: it bounds what a lookup holds in driver
# memory. A serve whose tail holds at most this many ledger rows (parquet
# footer counts) reads the tail and the fold-side rows of its docs on the
# driver, with row-group skipping in the doc_id-sorted folded ledger:
# cost O(docs) whatever the fold size. The funnel's winner-h check
# collects up to this many docs and pushes them into Spark as dp and
# doc_id IN literals, whose planning time the cap bounds. Above it, a
# dp-pruned scan plus a semi-join, which grows with the folded corpus.
_LOOKUP_CAP = 8192
# Driver postings-read budget: a serve whose query terms' covering row
# groups (term min/max, footer counts) hold at most this many rows reads
# them on the driver and scores them on one partition; above it, a
# pruned Spark scan spread by term. The one partition wins while the
# scoring is small: measured on a 4-core host, the crossover lies near
# 60k covering rows when nearly every covering row matches a common
# query term (the seed workload of tools/index_probe.py), far higher
# when few do (rare terms, as ad-hoc marker queries are); CHANGES.md
# has the table. The budget sits below the lower crossover.
_POSTINGS_BUDGET = 50_000
# Declared schemas: a read that names its schema runs no parquet
# footer-inference job. Partition columns keep the types Spark infers
# from directory names (batch_id, dp: int).
_DOCMETA_SCHEMA = (
    "doc_id bigint, ts timestamp, deleted boolean, dl bigint, dp int, "
    "batch_id int"
)


def _cols(schema: str) -> list[str]:
    """A store's columns as landed within one batch: its declared
    schema less the batch_id partition. Commas inside a type
    (decimal(18,6), map<k,v>) do not separate fields."""
    names, depth, field = [], 0, ""
    for ch in schema + ",":
        if ch == "," and depth == 0:
            names.append(field.split()[0])
            field = ""
            continue
        depth += (ch in "<(") - (ch in ">)")
        field += ch
    return [c for c in names if c != "batch_id"]


def _tp_col(term_col="term"):
    return F.pmod(F.xxhash64(F.col(term_col)), F.lit(_TERM_PREFIXES))


def _dp_col(doc_col="doc_id"):
    return F.pmod(F.xxhash64(F.col(doc_col)), F.lit(_DOC_PREFIXES))


def _layout_now() -> dict:
    return {"term_prefixes": _TERM_PREFIXES, "doc_prefixes": _DOC_PREFIXES}


def _land_layout(state_dir: str) -> None:
    """First land writes the manifest; later lands assert it. The write
    goes to a temp file that replaces the manifest in one step, so a
    crash never leaves a truncated manifest behind."""
    path = os.path.join(state_dir, _LAYOUT_FILE)
    if os.path.exists(path):
        _assert_layout(state_dir)
        return
    os.makedirs(state_dir, exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(_layout_now(), f)
    os.replace(tmp, path)


def _assert_layout(state_dir: str) -> None:
    """Fail loudly when the store's persisted prefix moduli disagree
    with this process's: a store read under another modulus prunes to
    the wrong partitions and silently misses rows. A store without a
    manifest predates it and is trusted as-is."""
    path = os.path.join(state_dir, _LAYOUT_FILE)
    if not os.path.exists(path):
        return
    with open(path) as f:
        try:
            got = json.load(f)
        except json.JSONDecodeError as e:
            raise ValueError(
                f"store layout manifest {path!r} is unreadable ({e}): "
                "rewrite it as the JSON object of the moduli the store "
                f"was landed with, e.g. {json.dumps(_layout_now())}"
            ) from None
    want = _layout_now()
    if got != want:
        raise ValueError(
            f"store layout mismatch at {state_dir!r}: landed with "
            f"{got}, this process uses {want} — set "
            "SPARK_GRAFT_TERM_PREFIXES / SPARK_GRAFT_DOC_PREFIXES to "
            "the landed values (changing a store's fan requires a "
            "rewrite, not an env change)"
        )


def _assert_local_dir(path: str, what: str) -> None:
    """Existence and partition probes use driver-local os.path, which
    would read a remote URI (s3://, hdfs://) as an absent store and
    silently serve or judge against nothing. A cluster deployment swaps
    these probes for the Hadoop FS API."""
    if "://" in path:
        raise ValueError(
            f"{what} must be a driver-local path for this runner "
            f"(got {path!r}): existence/partition probes use os.path, "
            "which would misread a remote URI as an absent store."
        )


def _assert_no_compact_leftover(store_dir: str) -> None:
    """Refuse a store holding a fold's staging directory: the store is
    missing either the staged rows or the originals they replace. A
    staging without Spark's _SUCCESS marker died mid-write (partial
    staging, originals intact); one with it died after the write
    committed (complete staging, originals possibly half removed)."""
    leftovers = sorted(
        e for e in os.listdir(store_dir) if e.startswith(_COMPACT_TMP_PREFIX)
    )
    if not leftovers:
        return
    repairs = []
    for e in leftovers:
        target = e[len(_COMPACT_TMP_PREFIX):]
        if os.path.exists(os.path.join(store_dir, e, "_SUCCESS")):
            n = target.split("=", 1)[1]
            repairs.append(
                f"'{e}' is complete (it has _SUCCESS): remove the "
                f"remaining original 'batch_id=<i>' directories with "
                f"i <= {n}, then rename '{e}' to '{target}'"
            )
        else:
            repairs.append(
                f"'{e}' is partial (no _SUCCESS; the originals are "
                f"intact): delete '{e}'"
            )
    raise RuntimeError(
        f"interrupted compaction detected in {store_dir!r}. Repair "
        f"before reading the store: {'; '.join(repairs)}."
    )


def _batch_ids(store_dir: str) -> list[int]:
    """Sorted ids of the store's batch_id=<n> directories; [] when the
    store does not exist."""
    if not os.path.isdir(store_dir):
        return []
    return sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(store_dir)
        if e.startswith("batch_id=") and e.split("=", 1)[1].isdigit()
    )


def _id_horizon(store_dir: str) -> int:
    """Max landed batch id + 1; 0 when nothing landed."""
    return max(_batch_ids(store_dir), default=-1) + 1


def _committed_horizon(checkpoint_dir: str) -> int:
    """Next batch id per the streaming checkpoint's commits/ log (max
    committed id + 1; 0 when nothing committed)."""
    commits = os.path.join(checkpoint_dir, "commits")
    ids = [
        int(e)
        for e in (os.listdir(commits) if os.path.isdir(commits) else [])
        if e.isdigit()
    ]
    return max(ids) + 1 if ids else 0


def _run_concurrently(spark: SparkSession, *thunks) -> list:
    """Run independent store writes at the same time, one thread per
    thunk, and return their results in order. Each thread carries the
    caller's Spark local properties (job group, streaming query ids,
    job description), so a StreamingQuery.stop() cancels these jobs
    like any other of the batch and their jobs are attributed to the
    caller. Waits for EVERY thunk before returning or re-raising the
    first failure (in thunk order): no write outlives the caller's
    frame, e.g. a persisted micro-batch it unpersists next."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
    return [f.result() for f in futures]


def _assert_landed(store_dir: str, what: str) -> None:
    """The guards of every store read: loud on remote URIs, when
    nothing has landed, and on interrupted-compaction leftovers."""
    _assert_local_dir(store_dir, what)
    if not os.path.isdir(store_dir):
        raise ValueError(
            f"no {what} at {store_dir!r}: nothing has landed yet "
            "(run the store's stream first)"
        )
    _assert_no_compact_leftover(store_dir)


def _read_store(
    spark: SparkSession, store_dir: str, what: str, schema: str | None = None
):
    """Guarded store read (_assert_landed). `schema` (a declared store
    schema) spares the read its footer-inference job."""
    _assert_landed(store_dir, what)
    reader = spark.read.option("basePath", store_dir)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(store_dir)


def _read_batches(
    spark: SparkSession,
    store_dir: str,
    ids: list[int],
    schema: str | None = None,
) -> DataFrame:
    """The rows of the store's batch_id=<i> directories for `ids`, read
    by name: Spark lists only these directories, never the store's,
    where a concurrent land may be creating its own batch."""
    reader = spark.read.option("basePath", store_dir)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(
        *[os.path.join(store_dir, f"batch_id={i}") for i in ids]
    )


class _LwwStore(NamedTuple):
    """A version-stamped data store that folds under the ledger's LWW
    mask: rows survive iff (key, ts) is a live winner."""

    name: str  # subdirectory of the state dir
    schema: str  # declared schema, batch_id partition included
    partition_cols: list[str]
    what: str
    key: str = "doc_id"  # the doc column; query_id in a seed sidecar
    sort_by: str | None = None  # the order of each folded file


def _pruned_store(
    spark: SparkSession,
    store_dir: str,
    store: _LwwStore,
    before: int,
    touched: list[tuple],
):
    """`store`'s rows landed by batches < `before`, scan-pruned to the
    `touched` partitions (tuples of `store.partition_cols` values);
    None when nothing has landed or nothing is touched. batch_id <
    before is the replay guard: a re-run batch never reads its own
    failed attempt. Callers keep `touched` bounded (the batch's own
    buckets or clusters), so the literal predicate prunes directories
    statically. Rows are version-stamped; callers mask them against
    the ledger tail (_mask_visible)."""
    _assert_local_dir(store_dir, store.what)
    if not os.path.isdir(store_dir):
        return None
    _assert_no_compact_leftover(store_dir)
    if not _batch_ids(store_dir) or not touched:
        return None
    keys = store.partition_cols
    hit = reduce(
        or_,
        (
            reduce(and_, (F.col(c) == v for c, v in zip(keys, t)))
            for t in touched
        ),
    )
    return (
        _read_store(spark, store_dir, store.what, store.schema)
        .filter(F.col("batch_id") < before)
        .filter(hit)
        .select(*_cols(store.schema))
    )


def _compact_batch_store(
    spark: SparkSession,
    store_dir: str,
    upto: int,
    cols: list[str],
    partition_cols: list[str],
    what: str,
    checkpoint_dir: str | None = None,
    transform=None,
    force: bool = False,
    schema: str | None = None,
    sort_by: str | None = None,
) -> int:
    """Rewrite batches [0, upto) of one store into ONE directory with
    id upto - 1, preserving the partition layout with one file per
    partition directory, through the crash staging. Returns directories
    removed.

    `transform` maps the folded frame before the staged write and must
    keep `cols`: the LWW mask that makes logical deletes physical, or a
    retrain's reassignment. `force=True` rewrites even a single batch
    directory, which a transform that changes rows needs. `schema` (the
    store's declared schema) spares the read its footer-inference job.
    `sort_by` sorts each written file by that column.

    Refuses (loudly) an `upto` beyond the store's own id horizon: a
    FUTURE batch with id upto - 1 would read none of the folded history
    (its replay filter is batch_id < upto - 1) and its overwrite would
    then destroy it. With `checkpoint_dir`, also refuses an `upto`
    beyond the committed horizon: an uncommitted batch may replay and
    must still find its own directory."""
    _assert_local_dir(store_dir, what)
    if not os.path.isdir(store_dir):
        return 0  # nothing landed yet — nothing to fold
    _assert_no_compact_leftover(store_dir)
    ids = _batch_ids(store_dir)
    horizon = max(ids, default=-1) + 1
    if upto > horizon:
        raise ValueError(
            f"compaction upto={upto} exceeds the {what}'s id horizon "
            f"{horizon}: folding into batch_id={upto - 1} would collide "
            "with a FUTURE batch (whose replay filter excludes the "
            "compacted id and whose overwrite would then destroy it)."
        )
    if checkpoint_dir is not None:
        committed = _committed_horizon(checkpoint_dir)
        if upto > committed:
            raise ValueError(
                f"compaction upto={upto} exceeds the checkpoint's "
                f"committed horizon {committed}: an uncommitted batch "
                "below upto may replay and must still see (and "
                "overwrite) its own pre-compaction directory."
            )
    olds = [i for i in ids if i < upto]
    if len(olds) <= (0 if force else 1):
        return 0
    tmp = os.path.join(store_dir, f"{_COMPACT_TMP_PREFIX}batch_id={upto - 1}")
    folded = _read_batches(spark, store_dir, olds, schema).select(*cols)
    if transform is not None:
        folded = transform(folded).select(*cols)
    if partition_cols:
        folded = folded.repartition(*partition_cols)
    if sort_by is not None:
        # led by the partition columns: a partitioned write sorts by
        # them unless its input already is, and that sort drops any
        # order it does not start with
        folded = folded.sortWithinPartitions(*partition_cols, sort_by)
    folded.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    for i in olds:
        shutil.rmtree(os.path.join(store_dir, f"batch_id={i}"))
    os.rename(tmp, os.path.join(store_dir, f"batch_id={upto - 1}"))
    return len(olds)


def _lww(docmeta: DataFrame) -> DataFrame:
    """One winner row per doc under last-write-wins: max (ts, deleted,
    dl) struct — latest ts wins; an exact-ts tie (ordering-contract
    violation) resolves delete-over-update deterministically."""
    return docmeta.groupBy("doc_id").agg(
        F.max(F.struct("ts", "deleted", "dl")).alias("w")
    ).select(
        "doc_id",
        F.col("w.ts").alias("ts"),
        F.col("w.deleted").alias("deleted"),
        F.col("w.dl").alias("dl"),
    )


def _lww_key(row: dict) -> tuple:
    """_lww's order on a driver row: (ts_us, deleted, dl), null lowest."""
    return tuple(
        (row[c] is not None, row[c]) for c in ("ts_us", "deleted", "dl")
    )


def _lww_rows(rows: list[dict]) -> list[dict]:
    """_lww on the driver: one winner row per doc_id among ledger rows
    (_ledger_read), by the same order."""
    best: dict = {}
    for r in rows:
        w = best.get(r["doc_id"])
        if w is None or _lww_key(r) > _lww_key(w):
            best[r["doc_id"]] = r
    return list(best.values())


def _visible_rows(rows: pa.Table, tail: list[dict]) -> pa.Table:
    """_mask_visible on the driver: `rows` (carrying doc_id and ts_us)
    against the tail's driver winners (_lww_rows), by the same
    three-valued logic, so a null ts or deleted flag decides alike."""
    t = pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in tail], pa.int64()),
            "_t_ts": pa.array([r["ts_us"] for r in tail], pa.int64()),
            "_t_del": pa.array([r["deleted"] for r in tail], pa.bool_()),
        }
    )
    j = rows.join(t, "doc_id", join_type="left outer")
    keep = pc.or_kleene(
        pc.is_null(j["_t_ts"]),
        pc.and_kleene(
            pc.equal(j["ts_us"], j["_t_ts"]), pc.invert(j["_t_del"])
        ),
    )
    return j.filter(keep).drop_columns(["_t_ts", "_t_del"])


# The ledger's data columns as the driver reads them (_driver_read).
_LEDGER_ARROW = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("ts_us", pa.int64()),
        ("deleted", pa.bool_()),
        ("dl", pa.int64()),
    ]
)


def _data_files(path: str) -> list[str]:
    """The data files of one store directory, as Spark's file index
    sees them: names starting with '_' or '.' are metadata."""
    return [
        os.path.join(path, e)
        for e in sorted(os.listdir(path))
        if not e.startswith(("_", "."))
    ]


def _driver_files(
    store_dir: str, what: str, batches, parts: set[int] | None = None
) -> list[tuple[int, str]]:
    """(partition value, path) of the data files of a store partitioned
    one level below its batches (dp=<k>, tp=<k>), in the batch_id=<i>
    directories whose id satisfies the predicate `batches` and, with
    `parts`, in the partition directories whose value is in it. Guarded
    like every store read (_assert_landed)."""
    _assert_landed(store_dir, what)
    files = []
    for i in _batch_ids(store_dir):
        if not batches(i):
            continue
        for d in _data_files(os.path.join(store_dir, f"batch_id={i}")):
            k = int(os.path.basename(d).split("=", 1)[1])
            if parts is None or k in parts:
                files += [(k, f) for f in _data_files(d)]
    return files


def _driver_read(
    files: list[tuple[int, str]],
    schema: pa.Schema,
    key: str | None = None,
    values: list | None = None,
    cap: int | None = None,
    part: str | None = None,
) -> pa.Table | None:
    """The rows of `files` (_driver_files) read on the driver with
    pyarrow as one table of `schema`, whose ts_us column carries the
    files' ts as epoch microseconds (INT96 as Spark writes it). Each
    file is cast to `schema`, so files that declare a column not null
    (a fold's output) and files that do not (a land's) read alike.

    With `values` (sorted): only the row groups whose `key` min/max
    covers one of them (_covering), cut to those rows. With `cap`:
    None, before any row is read, when the footers count more than
    `cap` rows in the row groups to read. With `part`: the partition
    value as an int column of that name."""
    plan, n = [], 0
    for k, path in files:
        meta = pq.read_metadata(path)
        groups = (
            list(range(meta.num_row_groups))
            if values is None
            else _covering(meta, values, key)
        )
        n += sum(meta.row_group(g).num_rows for g in groups)
        if cap is not None and n > cap:
            return None
        if groups:
            plan.append((k, path, meta, groups))
    out = schema if part is None else schema.append(pa.field(part, pa.int32()))
    names = ["ts" if c == "ts_us" else c for c in schema.names]
    tables = []
    for k, path, meta, groups in plan:
        with pq.ParquetFile(
            path, metadata=meta, coerce_int96_timestamp_unit="us"
        ) as f:
            t = f.read_row_groups(groups, columns=names)
        if values is not None:
            t = t.filter(pc.is_in(t[key], value_set=pa.array(values)))
        ts = t["ts"].cast(pa.timestamp("us", t["ts"].type.tz))
        t = t.set_column(names.index("ts"), "ts_us", ts.cast(pa.int64()))
        if part is not None:
            t = t.append_column(part, pa.array([k] * len(t), pa.int32()))
        tables.append(t.cast(out))
    return pa.concat_tables(tables) if tables else out.empty_table()


def _ledger_read(
    state_dir: str, batches, cap: int | None = None, docs: list | None = None
) -> list[dict] | None:
    """The docmeta ledger rows of the batches whose id satisfies the
    predicate `batches`, read on the driver as dicts (doc_id, ts_us,
    deleted, dl, dp), ts as epoch microseconds, dp from the directory.

    With `cap`: None, before any row is read, when the files' parquet
    footers count more than `cap` rows. With `docs` (rows carrying
    doc_id and dp): only the docs' dp directories and, in them, only
    the row groups whose doc_id min/max covers one of the docs, cut to
    those docs; in the doc_id-sorted fold that is about one row group
    per doc, whatever the corpus size."""
    dps = None if docs is None else {r["dp"] for r in docs}
    files = _driver_files(
        f"{state_dir}/docmeta", "docmeta store dir", batches, dps
    )
    ids = None if docs is None else sorted({r["doc_id"] for r in docs})
    t = _driver_read(files, _LEDGER_ARROW, "doc_id", ids, cap, part="dp")
    return None if t is None else t.to_pylist()


def _covering(meta: pq.FileMetaData, values: list, key: str) -> list[int]:
    """The row groups of a parquet file (its footer `meta`) whose `key`
    min/max covers one of the sorted `values`; a row group without
    statistics is read."""
    col = meta.schema.names.index(key)
    hit = []
    for g in range(meta.num_row_groups):
        st = meta.row_group(g).column(col).statistics
        if st is None or not st.has_min_max:
            hit.append(g)
            continue
        k = bisect_left(values, st.min)
        if k < len(values) and values[k] <= st.max:
            hit.append(g)
    return hit


def _point_lookup(ledger: DataFrame, docs: list) -> DataFrame:
    """The dp-partitioned `ledger` cut to `docs` (rows carrying doc_id
    and dp): the dp literals prune directories, the doc_id literals
    skip row groups of the doc_id-sorted fold. Callers keep `docs`
    bounded (the funnel's lookup by _LOOKUP_CAP)."""
    dps = sorted({r["dp"] for r in docs})
    ids = sorted({r["doc_id"] for r in docs})
    return ledger.filter(F.col("dp").isin(dps)).filter(
        F.col("doc_id").isin(ids)
    )


def _ledger_write(rows: DataFrame, state_dir: str, batch_id: int):
    """The write of one micro-batch's docmeta ledger rows (doc_id, ts,
    deleted and an optional dl, NULL when absent), dp-partitioned, as a
    thunk the caller runs alone or beside the batch's other writes
    (_run_concurrently). The layout manifest is landed or asserted
    here, before any write, so nothing lands under a drifted modulus."""
    _land_layout(state_dir)
    if "dl" not in rows.columns:
        rows = rows.withColumn("dl", F.lit(None).cast("long"))
    return partial(
        rows.select("doc_id", "ts", "deleted", "dl")
        .withColumn("dp", _dp_col())
        .repartition("dp")
        .write.mode("overwrite")
        .partitionBy("dp")
        .parquet,
        f"{state_dir}/docmeta/batch_id={batch_id}",
    )


def _fold_horizon(state_dir: str) -> int:
    """Last stats-snapshot id S: docmeta batches with id <= S are
    covered by the snapshot (and, barring a crash window that the next
    fold repairs, physically folded). -1 when never folded."""
    snap_dir = f"{state_dir}/statsnap"
    if not os.path.isdir(snap_dir):
        return -1
    _assert_no_compact_leftover(snap_dir)
    return max(_batch_ids(snap_dir), default=-1)


def _tail_live(spark: SparkSession, state_dir: str):
    """LWW winners among docmeta batches NEWER than the last fold
    (_fold_horizon, read here): the read-time visibility mask.
    Everything older was masked physically by the fold; before the
    first fold it is the global LWW (exact for any arrival order)."""
    fold_id = _fold_horizon(state_dir)
    dm = _read_store(
        spark, f"{state_dir}/docmeta", "docmeta store dir", _DOCMETA_SCHEMA
    )
    return _lww(dm.filter(F.col("batch_id") > fold_id))


def _mask_visible(rows: DataFrame, tail: DataFrame, key: str = "doc_id"):
    """Visibility under the tail mask: a version-stamped row survives
    iff its doc has no tail version, or it IS the tail winner and that
    winner is not a tombstone."""
    t = tail.select(
        F.col("doc_id").alias(key),
        F.col("ts").alias("_t_ts"),
        F.col("deleted").alias("_t_del"),
    )
    return (
        rows.join(t, key, "left")
        .filter(
            F.col("_t_ts").isNull()
            | ((F.col("ts") == F.col("_t_ts")) & ~F.col("_t_del"))
        )
        .drop("_t_ts", "_t_del")
    )


def _ledger_winners(spark: SparkSession, state_dir: str, upto: int):
    """LWW winners (doc_id, ts, deleted, dl) over docmeta batches
    [0, upto), read by name (_read_batches). At least one such batch
    must have landed."""
    dm_dir = f"{state_dir}/docmeta"
    _assert_local_dir(dm_dir, "docmeta store dir")
    _assert_no_compact_leftover(dm_dir)
    ids = [i for i in _batch_ids(dm_dir) if i < upto]
    return _lww(_read_batches(spark, dm_dir, ids, _DOCMETA_SCHEMA))


@contextmanager
def _ledger_pass(spark: SparkSession, state_dir: str, upto: int):
    """The fold's one ledger pass: _ledger_winners persisted for the
    whole fold and released when it ends, also on failure. Callers
    finish the docmeta fold inside the block: once its write commits it
    removes the originals the winners were computed from. A persisted
    plan keeps its shuffle's full partition count (adaptive execution
    does not coalesce it), so the winners are cut to one partition per
    core: every later reader of the cache runs one wave of tasks."""
    winners = (
        _ledger_winners(spark, state_dir, upto)
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist()
    )
    try:
        yield winners
    finally:
        winners.unpersist()


def _alive(winners: DataFrame) -> DataFrame:
    """(doc_id, ts) of the non-tombstone LWW winners: the physical-drop
    mask of every store fold."""
    return winners.filter(~F.col("deleted")).select("doc_id", "ts")


def _alive_of(spark: SparkSession, state_dir: str, upto: int):
    """The fold mask (_alive) over docmeta batches [0, upto)."""
    return _alive(_ledger_winners(spark, state_dir, upto))


def _write_statsnap(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    winners: DataFrame | None = None,
) -> None:
    """Per-dp integer stats of the live corpus over docmeta batches
    [0, upto), staged and swapped in; older snapshots are removed after
    the rename (readers take the max id, so a crash between rename and
    removal is harmless). A snapshot already at this horizon is kept:
    it is a pure function of docmeta [0, upto), whose winner rows every
    fold preserves, so a re-run fold would rewrite identical content.
    `winners` is the fold's _ledger_pass; without it the ledger is read
    here."""
    snap_dir = f"{state_dir}/statsnap"
    if upto - 1 in _batch_ids(snap_dir):
        return
    if winners is None:
        winners = _ledger_winners(spark, state_dir, upto)
    live = winners.filter(~F.col("deleted")).withColumn("dp", _dp_col())
    snap = live.groupBy("dp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("dl").cast("long").alias("n_len"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    os.makedirs(snap_dir, exist_ok=True)
    _assert_no_compact_leftover(snap_dir)
    tmp = os.path.join(snap_dir, f"{_COMPACT_TMP_PREFIX}batch_id={upto - 1}")
    snap.coalesce(1).write.mode("overwrite").parquet(tmp)
    olds = _batch_ids(snap_dir)
    os.rename(tmp, os.path.join(snap_dir, f"batch_id={upto - 1}"))
    for i in olds:
        shutil.rmtree(os.path.join(snap_dir, f"batch_id={i}"))


def _statsnap_totals(state_dir: str, fold_id: int) -> tuple[int, int, int]:
    """(n_docs, n_len, sum_dl) of the stats snapshot at `fold_id`
    (_fold_horizon), summed on the driver over its _DOC_PREFIXES rows;
    zeros before the first fold."""
    if fold_id < 0:
        return 0, 0, 0
    snap = f"{state_dir}/statsnap/batch_id={fold_id}"
    cols = ["n_docs", "n_len", "sum_dl"]
    parts = [pq.read_table(f, columns=cols) for f in _data_files(snap)]
    return tuple(sum(pc.sum(t[c]).as_py() or 0 for t in parts) for c in cols)


def _fold_ledger(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None = None,
    winners: DataFrame | None = None,
) -> int:
    """Fold the docmeta ledger [0, upto) to one winner row per doc
    (tombstones retained; doc_id-sorted within dp, so point lookups
    row-group-skip) after writing the per-dp stats snapshot. Snapshot
    FIRST: a snapshot at id S beside unfolded docmeta dirs <= S serves
    exactly (the correction's fold read batch_id <= S still sees
    them), whereas a docmeta fold without its snapshot would make the
    serve-time correction count the folded rows twice. Both derive from
    `winners`, the caller's _ledger_pass; without it the fold makes its
    own."""
    if winners is None:
        with _ledger_pass(spark, state_dir, upto) as winners:
            return _fold_ledger(
                spark, state_dir, upto, checkpoint_dir, winners
            )
    _write_statsnap(spark, state_dir, upto, winners)
    return _compact_batch_store(
        spark,
        f"{state_dir}/docmeta",
        upto,
        cols=_cols(_DOCMETA_SCHEMA),
        partition_cols=["dp"],
        what="docmeta store dir",
        checkpoint_dir=checkpoint_dir,
        transform=lambda _: winners.withColumn("dp", _dp_col()),
        force=True,
        schema=_DOCMETA_SCHEMA,
        sort_by="doc_id",
    )


def _lww_fold(
    spark: SparkSession,
    store_dir: str,
    store: _LwwStore,
    upto: int,
    checkpoint_dir: str | None,
    alive: DataFrame,
):
    """The thunk that folds `store` over batches [0, upto) keeping only
    rows whose (key, ts) is in `alive` (_alive)."""
    mask = alive.withColumnRenamed("doc_id", store.key)
    return partial(
        _compact_batch_store,
        spark,
        store_dir,
        upto,
        cols=_cols(store.schema),
        partition_cols=store.partition_cols,
        what=store.what,
        checkpoint_dir=checkpoint_dir,
        transform=lambda df: df.join(mask, [store.key, "ts"]),
        force=True,
        schema=store.schema,
        sort_by=store.sort_by,
    )


def _compact_lww_stores(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None,
    stores: tuple[_LwwStore, ...],
) -> int:
    """Fold `stores` and then the ledger over batches [0, upto), in the
    module's fold order, from one ledger pass. The data-store folds are
    independent and run at the same time; the ledger folds only after
    ALL of them have succeeded. Every read goes through batch
    directories below `upto` by name, so the fold may run beside an
    append-only land of batch `upto` (module docstring). Returns
    directories removed."""
    _assert_layout(state_dir)
    if not any(i < upto for i in _batch_ids(f"{state_dir}/docmeta")):
        return 0  # nothing landed yet — nothing to fold
    with _ledger_pass(spark, state_dir, upto) as winners:
        alive = _alive(winners)
        folds = [
            _lww_fold(
                spark, f"{state_dir}/{s.name}", s, upto, checkpoint_dir,
                alive,
            )
            for s in stores
        ]
        removed = sum(_run_concurrently(spark, *folds))
        return removed + _fold_ledger(
            spark, state_dir, upto, checkpoint_dir, winners
        )
