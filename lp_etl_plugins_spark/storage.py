"""The on-disk protocol the persisted index families share.

Every family (``DedupIndex``, ``RepeatIndex`` and ``TrigramLM`` in
:mod:`.textops`, ``VectorIndex`` in :mod:`.vectorops`, ``MediaIndex``
in :mod:`.multimodal`, ``CurationState`` in :mod:`.incremental`)
persists a directory of parquet substrates plus 1-row control-plane
tables (meta, markers, manifests); this module holds the protocol they
share for those directories.

Driver-local filesystem contract
--------------------------------
Index directories live on a filesystem the DRIVER can touch directly:
control-plane rows are written and read with pyarrow (no Spark job),
substrate reads pin their schema from one footer read driver-side,
and compaction swaps layouts by rename. ``file:`` URIs are accepted
and stripped (:func:`local_path`). An object-store deployment fronts
the same directories with a transactional table format, whose commit
is a metadata write and whose swap is a metadata commit.

Footer-derived control plane
----------------------------
At index scale a lifecycle op costs its number of Spark jobs times the
per-job floor, so the questions the lifecycle asks ABOUT a directory
(how many rows, the high-water mark, any row beyond a commit stamp,
one schema or several) are answered from the parquet footers the
driver reads directly (:func:`footer_stats`), not by a Spark job:

- ``num_rows`` is always trusted: every writer records it.
- Column min/max are trusted only for integer columns (INT32/INT64,
  signed or unannotated), whose statistics parquet-mr (Spark) and
  Arrow write as the exact extremes. A row group whose statistics are
  absent (e.g. a file written with statistics off), a file missing the
  column, or any other column type makes :func:`footer_stats` return
  None; the caller then asks Spark (:func:`scan_stats`, the same
  answer from one aggregate). A row group of nulls only has no
  min/max and contributes nothing, as in Spark's ``min``/``max``.
- Only local paths are read (the driver-local contract above); any
  other scheme returns None and takes the Spark fallback.

Probes that look for a violation use the footers as proof of absence
(e.g. ``max(src) <= stamp`` proves no unstamped row) and pay for an
exact Spark count only when the footers cannot prove it. A footer value
that disagreed with Spark would be a bug, never a tolerance: the
lifecycle tests compare both on every family step.

At-least-once absorb contract
-----------------------------
Each family exposes ``foreach_batch_*`` factories returning a
``(batch_df, batch_id) -> None`` function for
``writeStream.foreachBatch``. Structured Streaming may replay a batch
after a restart, so every absorber converges on replay:

- **Ingestion** (:func:`monotone_batch`): batch ids must lie strictly
  above the saved high-water mark. One min/max aggregate decides: an
  empty or fully replayed batch is skipped, a batch straddling the
  mark raises (re-applying part of a batch would duplicate rows), and
  a saved state with no mark raises (replay detection would be
  impossible). Absorbers that co-maintain a corpus log append to it
  FIRST through :func:`append_corpus_log`, itself replay-guarded, so
  a crash between the corpus half and the index half redoes only the
  index half.
- **Retraction** (:func:`unretracted_ids`): ids already in the
  committed ledger are pre-filtered, so replays and duplicate deletion
  requests absorb silently, and a torn previous landing is purged and
  relanded by the family's own ``retract_saved`` protocol (the
  pre-filter makes the replay's fresh id set equal the torn
  attempt's).

What each family does on top of this (crash-window repair of its own
multi-file write sequence) is documented on its factory.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def local_path(path: str) -> str:
    """Strip a ``file:`` scheme for driver-side filesystem operations."""
    return path[len("file:"):] if path.startswith("file:") else path


def same_dir(a: str, b: str) -> bool:
    """True when two directory paths resolve to the same filesystem
    location — the as-of branch guard's equality test (``save`` from a
    historical view must refuse its own source; a relative spelling or
    a symlink must not slip past the check)."""
    return os.path.realpath(os.path.abspath(local_path(a))) == os.path.realpath(
        os.path.abspath(local_path(b))
    )


def single_partition_df(spark, rows: list, schema: str) -> DataFrame:
    """1-slice ``createDataFrame`` for control-plane frames (meta rows,
    empty log initializers). The default path parallelizes a tiny
    Python list into ``defaultParallelism`` slices, and a downstream
    ``coalesce(1)`` then evaluates ALL of them serially inside one
    task — every empty slice still pays a Python-worker round trip
    (~150 ms × 32 slices ≈ 5 s per 1-row meta write, measured on
    local[32]). One slice from the start writes the same single file
    in ~0.5 s and keeps state-maintenance wall time out of the
    scheduler."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _arrow_table(rows: list, schema: str):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    arrow_schema = to_arrow_schema(_parse_datatype_string(schema))
    cols = [
        [row[i] for row in rows] for i in range(len(arrow_schema.names))
    ]
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def control_frame(spark, rows: list, schema: str) -> DataFrame:
    """A small driver-built frame (a report, a set of ids) backed by an
    Arrow table: it plans as a local relation, so collecting it runs no
    Spark job (:func:`single_partition_df` costs one)."""
    return spark.createDataFrame(_arrow_table(rows, schema))


def _data_files(path: str) -> Iterator[str]:
    """Data files under a parquet directory, recursively in walk order
    (sorted within a directory); skips Spark's ``_SUCCESS``/metadata,
    hidden and checksum files."""
    for root, _, files in os.walk(local_path(path)):
        for f in sorted(files):
            if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                yield os.path.join(root, f)


def write_control_parquet(path: str, rows: list, schema: str) -> None:
    """Driver-side overwrite of a CONTROL-PLANE parquet directory (meta
    rows, empty log initializers) via pyarrow — no Spark job at all.

    The Spark path for a 1-row meta write costs a full scheduled job
    (~0.4 s on local[32]: py4j round trips + task launch + commit
    protocol) and the state-maintenance gates (t0/t34/t36/t38/v16)
    each pay it up to three times. The bytes are the same parquet any
    engine reads back (``spark.read.parquet`` infers the identical
    schema from the footer; asserted by the round-trip tests that
    cover every meta consumer)."""
    import pyarrow.parquet as pq

    table = _arrow_table(rows, schema)
    local = local_path(path)
    tmp = local + ".__meta__"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    if os.path.isdir(local):
        old = local + ".__old__"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(local, old)
        os.rename(tmp, local)
        shutil.rmtree(old)
    else:
        os.rename(tmp, local)


def append_control_parquet(
    path: str, rows: list, schema: str, name: str | None = None
) -> None:
    """Driver-side APPEND of control-plane rows: one parquet file
    added to ``path`` via pyarrow — the append-log twin of
    :func:`write_control_parquet` (a 1-row manifest append must not
    cost a scheduled job per commit). The write is atomic for readers
    (dot-prefixed temp + rename — Spark ignores dotfiles). A
    DETERMINISTIC ``name`` makes the append physically idempotent: a
    crash-replay re-landing the same logical row overwrites the same
    file instead of duplicating it, keeping file-level snapshots
    byte-identical across replays (the chaos suite's convergence
    standard)."""
    import pyarrow.parquet as pq

    table = _arrow_table(rows, schema)
    local = local_path(path)
    os.makedirs(local, exist_ok=True)
    if name is None:
        name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(local, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(local, name))


def stamp_resolved_retractions(path: str, resolved_rseq: int) -> None:
    """Sidecar resolution stamp written by every family ``compact()``
    that physically resolves committed retractions while RETAINING the
    ledger as its audit / replay-refusal record: rows with ``rseq <=
    resolved_rseq`` are already folded into the substrates (their
    anti-joins are no-ops), rows above it are committed-but-unresolved
    and still carry a real per-read tax.
    :func:`maintenance._tombstone_pressure` counts only the latter, so
    the tombstone-threshold compaction trigger can't re-fire forever
    on an already-resolved ledger. One control-plane row; consumers
    clamp to the meta's current ``n_retractions`` so a stale stamp
    from a previous state incarnation (sequence restart at a fresh
    ``save()``) can never hide live rows."""
    write_control_parquet(
        f"{path}/retracted_resolved",
        [(int(resolved_rseq),)],
        "resolved_rseq bigint",
    )


def read_parquet_pinned(spark, path: str) -> DataFrame:
    """``spark.read.parquet`` with the schema pre-read DRIVER-SIDE from
    one footer (pyarrow) — Spark 4's schema inference launches a small
    Spark job per bare read (~0.1–0.2 s of fixed scheduling on
    local[32], measured), and the index ``load()`` paths open 5–8
    stage directories each, so inference jobs alone out-cost the
    actual reads. Reads the FIRST data file's footer, matching what
    inference samples with mergeSchema off (substrate directories are
    schema-uniform by construction; sites with cross-round schema
    growth already pass explicit DDL schemas). Falls back to the bare
    read when no data file exists (same behavior either way: inference
    over an empty directory raises in both paths)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    first = next(_data_files(path), None)
    if first is None:
        return spark.read.parquet(path)
    return spark.read.schema(from_arrow_schema(pq.read_schema(first))).parquet(path)


def read_control_row(path: str) -> dict:
    """Driver-side read of a 1-row control-plane parquet directory
    (the meta tables every index family writes) via pyarrow — the
    read twin of :func:`write_control_parquet`: a Spark
    ``read.parquet(...).first()`` costs a scheduled job (~0.2 s on
    local[32]) per index ``load``, for one row of configuration.
    Reads whatever engine wrote the files (Spark- and pyarrow-written
    metas are both plain parquet). Returns the first row as a dict;
    raises if the directory holds no rows."""
    import pyarrow.parquet as pq

    for f in _data_files(path):
        t = pq.read_table(f)
        if t.num_rows:
            return {c: t.column(c)[0].as_py() for c in t.column_names}
    raise ValueError(f"read_control_row: no rows under {path}")


def parquet_dir_exists(path: str) -> bool:
    return os.path.isdir(local_path(path))


def count_data_files(path: str) -> int:
    """Data files under a parquet directory (recursive; skips Spark's
    ``_SUCCESS``/metadata and hidden files)."""
    return sum(1 for _ in _data_files(path))


@dataclass(frozen=True)
class DirStats:
    """What the control plane asks of a parquet directory: its row
    count, per-column min/max (None for a column with no non-null
    value) and the distinct per-file schemas seen, each a sorted tuple
    of ``(column, type)`` (empty when the answer came from Spark)."""

    rows: int
    lo: dict
    hi: dict
    schemas: tuple = ()

    @property
    def mixed(self) -> bool:
        return len(self.schemas) > 1


# physical/converted types whose footer min/max are exact (module docstring)
_EXACT_PHYSICAL = ("INT32", "INT64")
_EXACT_CONVERTED = ("NONE", "INT_8", "INT_16", "INT_32", "INT_64")


def _is_local(path: str) -> bool:
    return path.startswith("file:") or "://" not in path


def _footer_stats(files: Sequence[str], cols: Sequence[str]) -> DirStats | None:
    import pyarrow.parquet as pq

    rows = 0
    lo: dict = dict.fromkeys(cols)
    hi: dict = dict.fromkeys(cols)
    shapes: dict = {}
    for f in files:
        md = pq.read_metadata(f)
        shape = tuple(sorted(
            (fl.name, str(fl.type)) for fl in md.schema.to_arrow_schema()
        ))
        shapes.setdefault(shape, None)
        index = {md.schema.column(i).path: i for i in range(md.num_columns)}
        for c in cols:
            i = index.get(c)
            if (
                i is None
                or md.schema.column(i).physical_type not in _EXACT_PHYSICAL
                or md.schema.column(i).converted_type not in _EXACT_CONVERTED
            ):
                return None
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            if rg.num_rows == 0:
                continue
            for c in cols:
                st = rg.column(index[c]).statistics
                if st is None:
                    return None
                if not st.has_min_max:
                    if st.has_null_count and st.null_count == rg.num_rows:
                        continue  # all-null row group: no extremes
                    return None
                lo[c] = st.min if lo[c] is None else min(lo[c], st.min)
                hi[c] = st.max if hi[c] is None else max(hi[c], st.max)
        rows += md.num_rows
    return DirStats(rows, lo, hi, tuple(shapes))


def footer_stats(path: str, cols: Sequence[str] = ()) -> DirStats | None:
    """Row count, min/max of the integer columns ``cols`` and the
    per-file schemas of a parquet directory, from one driver-side
    footer read per data file — no Spark job. None when the directory
    is absent or not local, or when some row group's statistics cannot
    answer for ``cols`` (module docstring: when statistics are
    trusted); the caller then falls back to :func:`scan_stats`."""
    if not _is_local(path) or not os.path.isdir(local_path(path)):
        return None
    return _footer_stats(list(_data_files(path)), cols)


def scan_stats(frame: DataFrame, cols: Sequence[str] = ()) -> DirStats:
    """The Spark twin of :func:`footer_stats`: one aggregate over
    ``frame`` (the directory read) for its row count and the min/max
    of ``cols``."""
    row = frame.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.min(c).alias(f"__lo_{c}") for c in cols],
        *[F.max(c).alias(f"__hi_{c}") for c in cols],
    ).first()
    return DirStats(
        int(row["__n"]),
        {c: row[f"__lo_{c}"] for c in cols},
        {c: row[f"__hi_{c}"] for c in cols},
    )


def dir_stats(path: str, frame: DataFrame, cols: Sequence[str] = ()) -> DirStats:
    """:func:`footer_stats` of ``path``, or :func:`scan_stats` of
    ``frame`` (its read) when the footers cannot answer."""
    return footer_stats(path, cols) or scan_stats(frame, cols)


def append_parquet(frame: DataFrame, path: str, cols: Sequence[str] = ()) -> DirStats:
    """Spark append of ``frame`` to the parquet directory ``path``;
    returns :func:`footer_stats` of exactly the files this append
    landed (the files absent before it), or :func:`scan_stats` of
    ``frame`` when their footers cannot answer — so a writer learns
    the rows and high-water mark it just landed without a second job."""
    before = set(_data_files(path))
    frame.write.mode("append").parquet(path)
    landed = [f for f in _data_files(path) if f not in before]
    return (
        _is_local(path) and _footer_stats(landed, cols)
    ) or scan_stats(frame, cols)


def rewrite_parquet_dir(
    spark,
    path: str,
    frame: DataFrame,
    target_rows_per_file: int,
    n_rows: int | None = None,
    order_by: list[str] | None = None,
) -> dict:
    """Replace ``path``'s parquet contents with ``frame`` laid out as
    ``ceil(bound / target_rows_per_file)`` files, where ``bound`` is a
    row bound the driver already has: ``n_rows`` when the caller knows
    the frame's size, else the row count of the layout being replaced
    (its footers — a compaction's frame is that layout minus what it
    resolves away). The write is the single Spark action over
    ``frame``: no persist, no count job. One file is written from a
    single partition without a shuffle; more are round-robin (or, with
    ``order_by``, range) partitioned. The layout is written
    COMPLETELY into a sibling temp directory (this executes any read
    of the old files), then swapped in via rename-aside — the old
    directory is renamed to ``path.__old__`` BEFORE the new one is
    renamed in, so a COMPLETE copy of the data exists on disk at every
    instant. Crash contract: a crash during the new-layout write or
    before the first rename leaves the old layout live (plus a temp
    dir); a crash between the two renames leaves NO directory at
    ``path`` but BOTH complete copies beside it — recovery is a single
    rename of either surviving copy (``path.__compact__`` = new or
    ``path.__old__`` = old) back to ``path``; a crash after the second
    rename leaves the new layout live plus at most a leftover
    ``.__old__`` dir, which the next rewrite clears.
    Returns ``{"rows", "files_before", "files_after"}``, ``rows`` read
    from the new files' footers."""
    local = local_path(path)
    tmp = local + ".__compact__"
    if n_rows is None:
        old = footer_stats(path)
        n_rows = old.rows if old is not None else 0
    parts = max(1, math.ceil(int(n_rows) / max(target_rows_per_file, 1)))
    if parts == 1:
        frame = frame.coalesce(1)
        if order_by:
            frame = frame.sortWithinPartitions(*order_by)
    elif order_by:
        # range-partitioned + sorted layout: per-file min/max column
        # statistics become TIGHT on the order keys, so a later
        # literal/IN pushdown prunes files and row groups (the
        # retraction locate-scan treatment — SCALE.md)
        frame = frame.repartitionByRange(parts, *order_by).sortWithinPartitions(
            *order_by
        )
    else:
        frame = frame.repartition(parts)
    shutil.rmtree(tmp, ignore_errors=True)
    frame.write.mode("overwrite").parquet(tmp)
    new = footer_stats(tmp)
    files_before = count_data_files(path)
    old_aside = local + ".__old__"
    shutil.rmtree(old_aside, ignore_errors=True)
    os.rename(local, old_aside)
    os.rename(tmp, local)
    shutil.rmtree(old_aside)
    return {
        "rows": new.rows,
        "files_before": files_before,
        "files_after": count_data_files(path),
    }


def recover_swapped_dir(path: str) -> bool:
    """Recover a :func:`rewrite_parquet_dir` swap that crashed between
    its two renames (the one window that leaves NO live directory at
    ``path`` — but BOTH complete copies beside it): rename a surviving
    complete copy back, preferring the new layout (``.__compact__`` —
    complete by the write-before-swap contract) over the old
    (``.__old__``). A live ``path`` is left untouched (leftover
    sibling dirs are cleared by the next rewrite). Returns True if a
    rename was performed; raises if ``path`` is missing and no
    complete copy survives."""
    local = local_path(path)
    if os.path.isdir(local):
        return False
    for cand in (local + ".__compact__", local + ".__old__"):
        if os.path.isdir(cand):
            os.rename(cand, local)
            return True
    raise FileNotFoundError(
        f"recover_swapped_dir: {path} is missing and neither "
        f"{path}.__compact__ nor {path}.__old__ survives"
    )


# ------------------------------------------------ at-least-once absorbing


def monotone_batch(
    batch_df: DataFrame,
    id_col: str,
    mark: int | None,
    who: str,
    *,
    on_missing_mark: Callable[[], None] | None = None,
    on_replay: Callable[[Row], None] | None = None,
) -> Row | None:
    """The ingestion guard of the absorb contract (module docstring):
    one min/max aggregate over ``id_col``. Returns the batch's
    ``(lo, hi)`` row when the batch lies wholly above ``mark``, None
    when it is empty or fully replayed (``on_replay`` sees the bounds
    of a replayed batch first). Raises when the ids straddle the mark,
    and when there is no mark (``on_missing_mark`` may raise a more
    specific refusal first). ``who`` prefixes the messages."""
    b = batch_df.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).first()
    if b["hi"] is None:
        return None
    if mark is None:
        if on_missing_mark is not None:
            on_missing_mark()
        raise ValueError(
            f"{who}: the saved index has no high-water mark (meta "
            "predates it) — re-save() the index (which stamps it) before "
            "attaching streamed ingestion"
        )
    if b["hi"] <= mark:
        if on_replay is not None:
            on_replay(b)
        return None
    if b["lo"] <= mark:
        raise ValueError(
            f"{who}: monotone-id contract violated — batch ids straddle "
            f"the saved high-water mark {mark} (lo={b['lo']}, "
            f"hi={b['hi']}); re-appending part of a batch would duplicate "
            "its rows"
        )
    return b


def append_corpus_log(
    spark, corpus_path: str, batch_df: DataFrame, id_col: str, b: Row, who: str
) -> tuple[DataFrame, bool]:
    """Append a monotone batch (bounds ``b`` from :func:`monotone_batch`)
    to the co-maintained corpus log, replay-guarded. Returns the corpus
    frame as read BEFORE the append, and whether the log already held
    the whole batch (the crash landed between the corpus append and the
    index half: redo only the index half). A log max inside the batch
    is a torn append and raises. A log max covering the batch is
    trusted only after a row-count completeness check: a torn
    MULTI-FILE append can commit the part-file holding the batch's max
    id while losing others."""
    corpus = spark.read.parquet(corpus_path)
    c_hi = corpus.agg(F.max(id_col)).first()[0]
    if c_hi is None or c_hi < b["lo"]:
        batch_df.write.mode("append").parquet(corpus_path)
        return corpus, False
    if c_hi < b["hi"]:
        raise ValueError(
            f"{who}: corpus log partially overlaps the batch (corpus max "
            f"{c_hi} inside [{b['lo']}, {b['hi']}]) — torn corpus append; "
            "repair the corpus log before resuming"
        )
    n_disk = corpus.filter(
        F.col(id_col).between(int(b["lo"]), int(b["hi"]))
    ).count()
    n_batch = batch_df.count()
    if n_disk != n_batch:
        raise ValueError(
            f"{who}: corpus log max covers the batch but holds {n_disk} "
            f"rows in [{b['lo']}, {b['hi']}] vs the batch's {n_batch} — "
            "torn corpus append; repair the corpus log before resuming"
        )
    return corpus, True


def unretracted_ids(
    batch_df: DataFrame, ledger: DataFrame | None
) -> DataFrame | None:
    """The retraction guard of the absorb contract (module docstring):
    the batch's first column cast to long as a deduplicated ``id``
    frame, minus the ids already in ``ledger`` (an ``id`` frame, or
    None when nothing is retracted yet), checkpointed. None when the
    batch is fully absorbed already."""
    ids = batch_df.select(
        F.col(batch_df.columns[0]).cast("long").alias("id")
    ).distinct()
    if ledger is not None:
        ids = ids.join(F.broadcast(ledger), "id", "left_anti")
    ids = ids.localCheckpoint()
    return None if ids.first() is None else ids
