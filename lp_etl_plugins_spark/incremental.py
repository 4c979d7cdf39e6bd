"""Persistent incremental curation state — the daily-delta form of
:func:`curation.curate_corpus`.

The batch pipeline (reference parity: the LP-ETL pipeline graph,
definition.jsonld:12-56, re-run end-to-end per execution) recomputes
every stage from scratch. A production 100 TB corpus does not arrive
once — it grows by a daily delta that is a fraction of a percent of
the total, and re-running lang-ID, quality scoring, shingling, LSH,
verification, clustering, and decontamination over the WHOLE corpus
per delta multiplies the dominant cost by the update frequency.

:class:`CurationState` persists every expensive substrate the pipeline
derives and absorbs a delta in time bounded by the DELTA (plus the
old rows a delta pair actually touches), never by the corpus:

- ``indexed/``    the working corpus after per-doc filters + exact
                  dedup (the frame the dedup index covers) — parquet,
                  APPEND-only;
- ``hashes/``     distinct md5(text) of the indexed corpus (the exact-
                  dedup membership substrate) — APPEND-only;
- ``index/``      the :class:`textops.DedupIndex` substrates; monotone
                  stages (bands/pairs/verified) APPEND their delta via
                  :meth:`textops.DedupIndex.append_saved`, cluster
                  labels are rewritten (bounded by the clustered
                  subset — the one non-monotone piece);
- ``working/`` + ``tombstones/``  the canonical (post-near-dedup)
                  corpus as an append log plus a retraction log — the
                  merge-on-read pattern: a displaced canonical is
                  tombstoned, never rewritten in place;
- ``grams/``      the hashed char-n-gram inverted index over the
                  working set (decontamination's candidate substrate)
                  — APPEND-only, tombstone-filtered at read;
- ``contam/``     contamination evidence at PAIR granularity
                  (train_id, bench_id, containment ≥ threshold) —
                  small, rewritten per update. Pair-level state is
                  what makes retraction exact: when a bench canonical
                  is displaced, its pairs vanish and a train doc it
                  alone contaminated is un-flagged, exactly as a full
                  rebuild would decide.

Exactness contract (test-asserted, see tests/test_incremental.py):
under (1) monotone ingestion — every delta doc_id is greater than
every previously ingested doc_id (enforced), and (2) the default
uncapped band groups, ``build(base); update(delta)`` equals
``build(base ∪ delta)`` — same indexed set, same working set, same
contamination pairs, same curated corpus. This includes the two
subtle df-cap interactions of the decontamination substrate: a gram
whose document frequency crosses UNDER the (corpus-size-dependent)
cap after the merge is re-mined over its full posting list
(``flipped`` below), and stored pairs whose every witnessing gram
crossed OVER the cap are dropped by the reachability recheck — both
directions match what a from-scratch rebuild computes.

Stages the batch pipeline supports that this state deliberately does
NOT: ``min_doc_lp`` (the trigram-LM gate trains on the corpus — its
scores shift with every delta, so incremental == rebuild cannot hold;
freeze an LM via :meth:`textops.TrigramLM.save` and filter the delta
upstream instead), ``scrub_repeats`` (repeated-span trimming depends
on corpus-WIDE gram document frequencies, so a new duplicate arriving
would retroactively rewrite old documents' text — incompatible with
the append-only working log for the same train-on-corpus reason as
the LM gate; run :func:`textops.trim_repeated_spans` over a frozen
snapshot upstream, or over :meth:`curated` downstream), and
``quota_k`` (a quota is a view over the curated pool — take it
downstream of :meth:`curated`).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import storage
from . import textops as T

_META_SCHEMA = (
    "lang string, min_quality double, bench_source string, redact boolean, "
    "denylist string, shingle_n int, k int, bands int, rows int, "
    "jaccard_threshold double, gram_n int, max_df_frac double, max_df int, "
    "contain_threshold double, max_band_size int, max_doc_id bigint, "
    "n_working bigint, n_bench bigint, n_updates int, n_compactions int, "
    "gram_hash_family string, n_retractions int"
)
# tombstones carry the high-water mark of the update that wrote them
# (src_max_id) so a crashed update's landed-but-unstamped retractions
# are identifiable on replay — the doc_id alone cannot be (tombstoned
# docs are OLD canonicals, below the stamp). Pre-round-8 logs lack the
# column; the explicit-schema read yields NULL there, which every
# stamp filter treats as "committed long ago".
#
# Round 10 (pipeline-level retraction) adds two columns, again with
# NULL-compatible explicit-schema reads over mixed old/new layouts:
# ``rseq`` stamps rows written by :meth:`CurationState.retract` (NULL
# = written by an update; committed iff rseq <= meta.n_retractions),
# and ``res`` marks a RESURRECTION record — a previously displaced
# canonical whose displacer was retracted re-enters the live set via
# an APPEND-only counter-record (never a physical tombstone delete,
# which would be unreconstructable after a crash). Per-doc resolution
# is last-event-wins ordered by (src_max_id watermark, rseq, res):
# update tombstones carry their delta's hi (strictly growing) at
# rseq NULL→0, retraction rows carry the CURRENT max_doc_id at their
# committed rseq — retractions never advance the id watermark, so
# CONSECUTIVE retractions share it and rseq is the tiebreaker that
# keeps event order total (without it, R1's resurrection of doc X
# would outrank R2's later retraction of X and the takedown would
# silently not take — the round-10 review find). res stays the final
# struct field: one retraction never writes a tombstone AND a
# resurrection for the same doc, so (w, rseq) is already total per
# doc, and res only settles degenerate duplicates (an at-least-once
# replay landing the same event twice) deterministically.
_TOMB_SCHEMA = "doc_id bigint, src_max_id bigint, rseq bigint, res boolean"
# the working log likewise: src_rseq stamps canonical rows APPENDED by
# a retraction (a survivor elected canonical after its cluster lost
# the old winner); NULL = written by build/update (committed via the
# pending-marker protocol), non-NULL committed iff <= n_retractions
_WORK_SCHEMA = "doc_id bigint, source string, text string, src_rseq bigint"
_GRAM_SCHEMA = "id bigint, g bigint"
# hashes likewise carry the doc that introduced each text hash
# (src_id) — exact dedup's anti-join still keys on h alone, but a
# replay can now separate a crashed append's hashes from committed
# ones. Explicit-schema reads keep mixed old/new-layout directories
# readable (missing column → NULL).
_HASH_SCHEMA = "h string, src_id bigint"
_CONTAM_SCHEMA = "train_id bigint, bench_id bigint, containment double"
_PENDING_SCHEMA = "lo bigint, hi bigint"
# The as-of MANIFEST (round 11 — VERDICT r10 Next #3): one appended
# row per commit (build/update/retract/compact) recording the
# reproducibility pin "the exact corpus run X trained on": the
# ingestion high-water mark and the lifecycle counters at that commit.
# ``mseq`` = n_updates + n_retractions + n_compactions (one commit
# advances exactly one counter, so the sum is a dense commit sequence).
# Crash contract (src-stamp pattern): the row is appended BEFORE the
# meta stamp, so a torn commit's row carries counters beyond meta and
# the committed-gate read (`manifest()`) never serves it; a replayed
# repair re-appends the identical row, deduped on read.
_MANIFEST_SCHEMA = (
    "mseq bigint, op string, max_doc_id bigint, n_updates bigint, "
    "n_retractions bigint, n_compactions bigint, n_working bigint"
)


def _null_ids(col: str):
    """Aggregate: rows whose ``col`` is null."""
    return F.count(F.lit(1)) - F.count(col)


def _refuse_null_ids(who: str, nulls) -> None:
    """The non-null ``doc_id`` entry contract: exact dedup's ``min_by``
    skips null orderings (keep-first equals the old window only under
    non-null ids), and every id stamp, ledger and anti-join keys on it."""
    if nulls:
        raise ValueError(
            f"{who}: {int(nulls)} document(s) with a null doc_id — every "
            "document needs a non-null unique doc_id"
        )


def _df_cap(max_df: int, max_df_frac: float, n: int) -> int:
    """The posting-list cap of textops._pruned_gram_candidates as a
    plain int — min(max_df, max(2, ceil(frac*n))). Computed on the
    driver from the tracked working-set size so the incremental miner
    prunes exactly like the full one."""
    return min(max_df, max(2, math.ceil(max_df_frac * n)))


def foreach_batch_update(spark: SparkSession, state_path: str):
    """Structured-Streaming ingestion into a saved curation state:
    each micro-batch lands as one :meth:`CurationState.update` delta,
    under the at-least-once absorb contract of :mod:`.storage`
    (``meta.max_doc_id`` is the high-water mark;
    tests/test_incremental.py proves streamed ingestion equals a full
    batch rebuild).

    A crash INSIDE the multi-file write sequence REPAIRS on replay:
    :meth:`CurationState.update` brackets its writes with a
    driver-side ``pending`` marker (written before the first substrate
    write, cleared after the meta stamp), and a replay that finds a
    matching marker runs in repair mode (see its docstring). A crash
    after the meta stamp but before the marker clear leaves a stale
    marker, which the replay's skip path removes here."""

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        st = CurationState.load(spark, state_path)

        def clear_stale_marker(b) -> None:
            # the previous run crashed between the meta stamp and the
            # marker clear: finish that cleanup
            pend = st._read_pending()
            if pend is not None and (
                int(pend["lo"]),
                int(pend["hi"]),
            ) == (int(b["lo"]), int(b["hi"])):
                st._clear_pending()

        b = storage.monotone_batch(
            batch_df, "doc_id", st.meta["max_doc_id"],
            "incremental.foreach_batch_update", on_replay=clear_stale_marker,
        )
        if b is not None:
            st.update(batch_df)

    return absorb


def foreach_batch_retract(spark: SparkSession, state_path: str):
    """Structured-Streaming DELETION absorber for a saved curation
    state: each micro-batch of doc ids (first column, castable to
    long) lands as one :meth:`CurationState.retract` sequence. The
    retraction-sequence protocol itself carries the at-least-once
    absorb contract of :mod:`.storage`: a replayed batch finds its ids
    committed in the root ledger and skips, a crash inside the write
    sequence re-lands on the same-ids replay, and a batch PARTIALLY
    overlapping committed retractions raises — so a deletion feed must
    keep batch boundaries stable across restarts (streamed == one-batch
    equality is test-asserted in tests/test_retraction_absorbers.py)."""

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        CurationState.load(spark, state_path).retract(batch_df)

    return absorb


class CurationState:
    """Handle over a saved curation state directory. Construct with
    :meth:`build` (initial corpus) or :meth:`load` (existing state);
    absorb corpus deltas with :meth:`update`; read the maintained
    views with :meth:`working` / :meth:`contamination` /
    :meth:`curated`. For continuous ingestion, see
    :func:`foreach_batch_update`."""

    def __init__(self, spark: SparkSession, path: str, meta: dict) -> None:
        self._spark = spark
        self._path = path
        self.meta = meta

    # ------------------------------------------------------------- views

    def _has_ledger(self) -> bool:
        return storage.parquet_dir_exists(f"{self._path}/retracted")

    def _root_ledger(self) -> DataFrame:
        """The pipeline retraction ledger (doc_id, rseq) — rows beyond
        meta's committed ``n_retractions`` belong to an in-flight or
        torn :meth:`retract`."""
        return storage.read_parquet_pinned(self._spark, f"{self._path}/retracted")

    def _committed_retracted(self) -> DataFrame | None:
        """Committed retracted doc ids, or None when the state has no
        ledger (the common case — every read path below is then
        byte-identical to the pre-retraction plans, pay-for-play)."""
        if not self._has_ledger():
            return None
        n_r = int(self.meta.get("n_retractions") or 0)
        return (
            self._root_ledger()
            .filter(F.col("rseq") <= n_r)
            .select("doc_id")
            .distinct()
        )

    def indexed(self) -> DataFrame:
        """The filtered + exact-deduped corpus the dedup index covers,
        minus committed retractions (physical rows stay until
        :meth:`compact` resolves them — one broadcast anti-join, paid
        only when a ledger exists)."""
        self._refuse_if_as_of("indexed")
        df = storage.read_parquet_pinned(self._spark, f"{self._path}/indexed")
        t = self._committed_retracted()
        if t is not None:
            df = df.join(F.broadcast(t), "doc_id", "left_anti")
        return df

    def _tombstones(self) -> DataFrame:
        return self._spark.read.schema(_TOMB_SCHEMA).parquet(
            f"{self._path}/tombstones"
        )

    def _working_log(self) -> DataFrame:
        return self._spark.read.schema(_WORK_SCHEMA).parquet(
            f"{self._path}/working"
        )

    def _dead_docs(self, *, stamp: int | None = None) -> DataFrame:
        """Doc ids whose EFFECTIVE tombstone state is dead: committed
        tombstone rows, resolved against committed resurrection
        records — last event wins, ordered by
        (src_max_id watermark, rseq, res); rseq is what keeps the
        order total across CONSECUTIVE retractions, which share the
        id watermark (see the ``_TOMB_SCHEMA`` note). ``stamp`` reconstructs the pre-crash
        state for update's repair mode (rows stamped beyond it are the
        crashed update's). Without a retraction ledger this is the
        plain tombstone id set — the original single-anti-join plan."""
        t = self._tombstones()
        if stamp is not None:
            t = t.filter(
                F.col("src_max_id").isNull()
                | (F.col("src_max_id") <= int(stamp))
            )
        if not self._has_ledger():
            return t.select("doc_id")
        n_r = int(self.meta.get("n_retractions") or 0)
        t = t.filter(F.col("rseq").isNull() | (F.col("rseq") <= n_r))
        if not n_r:
            # no committed retraction → no committed res rows exist
            return t.select("doc_id")
        last = t.groupBy("doc_id").agg(
            F.max(
                F.struct(
                    F.coalesce("src_max_id", F.lit(-1)).alias("w"),
                    # retractions never advance the id watermark, so
                    # consecutive retractions tie on w — rseq keeps
                    # the event order total (update rows sort at 0)
                    F.coalesce("rseq", F.lit(0)).cast("bigint").alias("q"),
                    F.coalesce(F.col("res"), F.lit(False))
                    .cast("int")
                    .alias("r"),
                )
            ).alias("last")
        )
        return last.filter(F.col("last.r") == 0).select("doc_id")

    def working(self, *, stamp: int | None = None) -> DataFrame:
        """Live canonical documents: the working append log minus the
        effectively tombstoned (displaced and not resurrected)
        canonicals — merge-on-read. Canonical rows a retraction
        appended are served only once that retraction committed
        (``src_rseq`` gate); ``stamp`` is update-repair's pre-crash
        reconstruction — and, round 11, the :meth:`as_of` pin (a
        pinned view defaults it to the manifest row's high-water)."""
        if stamp is None:
            stamp = getattr(self, "_pin_stamp", None)
        log = self._working_log()
        if self._has_ledger():
            n_r = int(self.meta.get("n_retractions") or 0)
            log = log.filter(
                F.col("src_rseq").isNull() | (F.col("src_rseq") <= n_r)
            )
        if stamp is not None:
            log = log.filter(F.col("doc_id") <= int(stamp))
        return log.join(
            self._dead_docs(stamp=stamp), "doc_id", "left_anti"
        ).select("doc_id", "source", "text")

    def contamination(self) -> DataFrame:
        """Live contamination evidence pairs (train_id, bench_id,
        containment). Rewritten per update, so every stored pair
        references live working docs only."""
        self._refuse_if_as_of("contamination")
        return self._spark.read.schema(_CONTAM_SCHEMA).parquet(
            f"{self._path}/contam"
        )

    def curated(self) -> DataFrame:
        """The curated corpus view: live canonicals, benchmark source
        excluded, contaminated docs excluded."""
        self._refuse_if_as_of("curated")
        flagged = self.contamination().select(
            F.col("train_id").alias("doc_id")
        ).distinct()
        return (
            self.working()
            .filter(F.col("source") != self.meta["bench_source"])
            .join(flagged, "doc_id", "left_anti")
        )

    def dedup_index(self) -> T.DedupIndex:
        """(Re-)open the persisted near-dup index. Always a fresh load:
        after an update appended delta rows, a previously loaded
        object's file listings are stale."""
        self._refuse_if_as_of("dedup_index")
        return T.DedupIndex.load(self._spark, f"{self._path}/index")

    # --------------------------------------------- as-of manifest (r11)

    def _append_manifest(self, op: str) -> None:
        """Append this commit's manifest row — called at every commit
        point with ``self.meta`` already advanced, immediately BEFORE
        ``_write_meta`` (the commit): a crash between the two leaves a
        row whose counters exceed meta, which the committed-gate read
        never serves; the replayed repair re-lands the identical row
        PHYSICALLY IDEMPOTENTLY (the file name IS the mseq, so a
        replay overwrites instead of duplicating — file-level
        snapshots stay byte-identical across replays, the chaos
        suite's convergence standard). One driver-side pyarrow file
        write — control-plane cost, no Spark job, no corpus scan."""
        m = self.meta
        nc = int(m.get("n_compactions") or 0)
        mseq = int(m["n_updates"]) + int(m["n_retractions"]) + nc
        row = (
            mseq,
            op,
            int(m["max_doc_id"]),
            int(m["n_updates"]),
            int(m["n_retractions"]),
            nc,
            int(m["n_working"]),
        )
        storage.append_control_parquet(
            f"{self._path}/manifest",
            [row],
            _MANIFEST_SCHEMA,
            name=f"part-mseq-{mseq:012d}.parquet",
        )

    def manifest(self) -> DataFrame:
        """The COMMITTED commit log: (mseq, op, max_doc_id, n_updates,
        n_retractions, n_compactions, n_working), one row per
        build/update/retract/compact commit — the reproducibility axis
        "which corpus state did run X train on". Rows whose counters
        exceed the meta stamp belong to a torn commit and are
        invisible; replay duplicates collapse via distinct. A state
        saved before round 11 has no manifest directory and yields the
        empty frame (history starts at its next commit)."""
        m = self.meta
        if not storage.parquet_dir_exists(f"{self._path}/manifest"):
            return self._spark.createDataFrame([], _MANIFEST_SCHEMA)
        return (
            self._spark.read.schema(_MANIFEST_SCHEMA)
            .parquet(f"{self._path}/manifest")
            .filter(
                (F.col("n_updates") <= int(m["n_updates"]))
                & (F.col("n_retractions") <= int(m["n_retractions"]))
                & (F.col("n_compactions") <= int(m.get("n_compactions") or 0))
            )
            .distinct()
        )

    def as_of(self, mseq: int) -> "CurationState":
        """Pin the pipeline at a committed manifest point — the
        CurationState member of the round-10 as-of family, built the
        same cheap way (existing stamps, no new bookkeeping): the
        working log is an append-only doc-id-monotone log whose
        displacement tombstones carry their update's watermark
        (``src_max_id``), so the MEMBERSHIP at commit ``mseq`` is the
        existing ``working(stamp=H)`` reconstruction (update-repair's
        own machinery).

        Two refusals keep the pin exact rather than approximately
        wrong (the family's never-serve-wrong rule):

        - a RETRACTION after the pin refuses: a takedown applies at
          every as-of point, but its cluster re-elections were computed
          over the CURRENT corpus geometry — the ``≤ H`` sub-corpus's
          re-election could differ and the cluster stages keep no
          history to replay it (the documented snapshot-retention
          trade);
        - a COMPACT after the pin refuses: compaction physically purges
          the displaced rows and resolved tombstones the stamp
          reconstruction reads — the history floor is the maintenance
          cadence, exactly like the LM's segment merge.

        The view is READ-ONLY and serves MEMBERSHIP only:
        :meth:`working` (pinned) and :meth:`manifest` (truncated at
        the pin — the view's meta counters ARE the pin). The cluster- and
        contamination-backed reads (:meth:`curated`,
        :meth:`contamination`, :meth:`dedup_index`, :meth:`indexed`)
        refuse — their substrates are rewritten in place per update
        (same trade as above). To pin an LM or vector index built over
        this pipeline's docs, pass the manifest row's ``max_doc_id``
        as their ``load(as_of_id=...)`` — the shared monotone doc-id
        axis is what makes the members compose."""
        rows = self.manifest().filter(F.col("mseq") == int(mseq)).collect()
        if not rows:
            raise ValueError(
                f"CurationState.as_of({mseq}): no committed manifest row "
                "with that mseq — see manifest() for the pinnable commits "
                "(states from before the manifest existed have history "
                "only from their first post-upgrade commit)"
            )
        row = rows[0]
        if int(row["n_retractions"]) != int(self.meta["n_retractions"]):
            raise ValueError(
                f"CurationState.as_of({mseq}): "
                f"{int(self.meta['n_retractions']) - int(row['n_retractions'])} "
                "retraction(s) postdate this pin — takedowns apply at every "
                "as-of point, and their cluster re-elections cannot be "
                "replayed against the pinned sub-corpus (the cluster stages "
                "keep no history); pin a commit at or after the last "
                "retraction"
            )
        if int(row["n_compactions"]) != int(self.meta.get("n_compactions") or 0):
            raise ValueError(
                f"CurationState.as_of({mseq}): a compact() postdates this "
                "pin — compaction physically purges the displaced rows the "
                "stamp reconstruction reads (the history floor is the "
                "maintenance cadence); pin a commit after the compact"
            )
        view = CurationState(self._spark, self._path, dict(self.meta))
        view._as_of = int(mseq)
        view._pin_stamp = int(row["max_doc_id"])
        view.meta["max_doc_id"] = int(row["max_doc_id"])
        view.meta["n_working"] = int(row["n_working"])
        view.meta["n_updates"] = int(row["n_updates"])
        return view

    def _refuse_if_as_of(self, op: str) -> None:
        if getattr(self, "_as_of", None) is not None:
            raise ValueError(
                f"CurationState.{op}: this state is a READ-ONLY as-of "
                f"view (as_of({self._as_of})) — it serves the pinned "
                "working membership only; load() the current state for "
                "mutations and the cluster/contamination reads"
            )

    # ------------------------------------------------- pending marker
    # The commit protocol of update(): a driver-side `pending` marker
    # (the delta's id bounds) is written BEFORE the first substrate
    # write and removed AFTER the meta stamp. A replay that finds a
    # matching marker knows the previous attempt crashed mid-write and
    # runs in repair mode; no marker means a clean first attempt; a
    # marker from a DIFFERENT delta means the torn batch must be
    # replayed first (raised loudly).

    def _read_pending(self) -> dict | None:
        if not storage.parquet_dir_exists(f"{self._path}/pending"):
            return None
        return storage.read_control_row(f"{self._path}/pending")

    def _write_pending(self, lo: int, hi: int) -> None:
        storage.write_control_parquet(
            f"{self._path}/pending", [(int(lo), int(hi))], _PENDING_SCHEMA
        )

    def _clear_pending(self) -> None:
        import shutil

        shutil.rmtree(storage.local_path(f"{self._path}/pending"), ignore_errors=True)

    def check(self, *, index_stages: bool = True, cooccupancy: bool = True) -> dict:
        """Integrity probe for the multi-file state — the operational
        answer to the non-atomicity seam :func:`foreach_batch_update`
        documents: a crash between :meth:`update`'s writes leaves a
        torn state, and this verifies the cross-substrate invariants a
        consistent state satisfies, each as one small aggregate:

        - indexed ids are unique, and ``hashes`` is exactly the
          distinct md5 set of the indexed texts (both inclusions);
        - every live working doc is an indexed doc; tombstones only
          name docs present in the working log;
        - the gram index references only working-log docs, and every
          live working doc long enough to gram is covered;
        - contamination pairs reference live docs with the right
          source sides (train ≠ bench_source, bench = bench_source);
        - the meta counters match the recounted working set.

        With ``index_stages=True`` (default) the probe also verifies
        the dedup-index substrates (band coverage, verified ⊆ pairs,
        cluster-label domains — each still one cheap aggregate) and,
        with ``cooccupancy=True`` (default), that every mined pair
        shares a band bucket. That last probe REPLAYS the band
        self-join — the same cost class as pair mining itself,
        quadratic in a hot band bucket — so it is NOT a small
        aggregate like the rest: pass ``cooccupancy=False`` to keep
        the cheap index probes in a post-crash triage (a torn update
        shows up as band_missing / verified_not_in_pairs, which stay
        on), or ``index_stages=False`` to skip the index entirely.

        → ``{"ok": bool, "violations": {name: count, ...}}`` with only
        nonzero counters listed. Read-only; run it after a suspected
        torn update before trusting the views."""
        spark, p, m = self._spark, self._path, self.meta
        v: dict[str, int] = {}

        def bad(name: str, n: int) -> None:
            if n:
                v[name] = int(n)

        # a pending marker with no update in flight IS the torn-state
        # signal: the crashed delta must be replayed (update's repair
        # mode converges it) before the views are trusted
        if self._read_pending() is not None:
            bad("pending_update_marker", 1)
        # a crash between a rename-aside swap's two renames (update's
        # contam swap, any compact() substrate) leaves NO live
        # directory — the probe must REPORT that, not crash on the
        # read (it exists for post-crash triage); recovery is one
        # rename of a surviving complete copy
        # (storage.recover_swapped_dir)
        for sub in ("indexed", "hashes", "working", "grams", "contam",
                    "tombstones"):
            if not storage.parquet_dir_exists(f"{p}/{sub}"):
                bad(f"substrate_missing_{sub}", 1)
        if v and any(k.startswith("substrate_missing_") for k in v):
            return {"ok": False, "violations": v}
        dead_src = self._committed_retracted()
        if self._has_ledger():
            # pipeline-retraction probes: uncommitted ledger rows are
            # the torn-retract signal (same name every family's probe
            # uses, so vacuum's purge trigger generalizes), and the
            # derived uncommitted writes it vouches for
            n_rr = int(m.get("n_retractions") or 0)
            led = self._root_ledger()
            bad(
                "uncommitted_ledger_rows",
                led.filter(F.col("rseq") > n_rr).count(),
            )
            bad(
                "retracted_id_beyond_stamp",
                led.filter(
                    (F.col("rseq") <= n_rr)
                    & (F.col("doc_id") > int(m["max_doc_id"]))
                ).count(),
            )
            bad(
                "uncommitted_working_adds",
                self._working_log()
                .filter(F.col("src_rseq") > n_rr)
                .count(),
            )
            tomb_raw = self._tombstones()
            bad(
                "uncommitted_tombstone_rows",
                tomb_raw.filter(F.col("rseq") > n_rr).count(),
            )
            # a committed resurrection must counter an actual
            # tombstone — an orphan means the log was hand-edited or a
            # repair path broke
            res_c = tomb_raw.filter(
                F.coalesce("res", F.lit(False))
                & (F.col("rseq").isNull() | (F.col("rseq") <= n_rr))
            ).select("doc_id")
            tomb_c = tomb_raw.filter(
                ~F.coalesce("res", F.lit(False))
            ).select("doc_id")
            bad(
                "resurrection_orphans",
                res_c.join(tomb_c, "doc_id", "left_anti").count(),
            )
        indexed = self.indexed()
        live = self.working()
        ids = indexed.groupBy("doc_id").count().filter(F.col("count") > 1)
        bad("duplicate_indexed_ids", ids.count())
        h = spark.read.schema(_HASH_SCHEMA).parquet(f"{p}/hashes")
        if dead_src is not None:
            h = h.join(
                F.broadcast(dead_src.withColumnRenamed("doc_id", "src_id")),
                "src_id",
                "left_anti",
            )
        h = h.select("h").distinct()
        ih = indexed.select(F.md5("text").alias("h")).distinct()
        bad("hashes_missing", ih.join(h, "h", "left_anti").count())
        bad("hashes_orphaned", h.join(ih, "h", "left_anti").count())
        bad(
            "working_not_indexed",
            live.join(indexed.select("doc_id"), "doc_id", "left_anti").count(),
        )
        wlog = spark.read.parquet(f"{p}/working").select("doc_id")
        bad(
            "tombstone_not_in_working_log",
            self._tombstones().join(wlog, "doc_id", "left_anti").count(),
        )
        g_ids = (
            spark.read.schema(_GRAM_SCHEMA)
            .parquet(f"{p}/grams")
            .select(F.col("id").alias("doc_id"))
            .distinct()
        )
        bad("gram_orphans", g_ids.join(wlog, "doc_id", "left_anti").count())
        grammable = live.filter(
            F.length(F.lower(F.trim("text"))) >= m["gram_n"]
        ).select("doc_id")
        bad("gram_missing", grammable.join(g_ids, "doc_id", "left_anti").count())
        contam = self.contamination()
        live_src = live.select("doc_id", "source")
        t_side = contam.join(
            live_src.withColumnRenamed("doc_id", "train_id"), "train_id", "left"
        )
        bad(
            "contam_train_bad",
            t_side.filter(
                F.col("source").isNull() | (F.col("source") == m["bench_source"])
            ).count(),
        )
        b_side = contam.join(
            live_src.withColumnRenamed("doc_id", "bench_id"), "bench_id", "left"
        )
        bad(
            "contam_bench_bad",
            b_side.filter(
                F.col("source").isNull() | (F.col("source") != m["bench_source"])
            ).count(),
        )
        wrow = live.agg(
            F.count(F.lit(1)).alias("nw"),
            F.sum((F.col("source") == m["bench_source"]).cast("bigint")).alias("nb"),
        ).first()
        bad("n_working_drift", abs(int(wrow["nw"]) - int(m["n_working"])))
        bad("n_bench_drift", abs(int(wrow["nb"] or 0) - int(m["n_bench"])))
        # index-side invariants (compaction-aware: they hold before and
        # after compact() because compaction never changes index rows):
        # band ids cover exactly the shingle-able indexed docs, mined
        # pairs share a band bucket, verified ⊆ pairs, and the verified
        # cluster labels name verified-pair endpoints only
        idx_path = f"{p}/index"
        if index_stages and storage.parquet_dir_exists(f"{idx_path}/bands"):
            bands = spark.read.parquet(f"{idx_path}/bands")
            if dead_src is not None:
                # index rows of retracted docs stay physical until
                # compact resolves them — the cross-substrate
                # invariants hold over the LIVE view
                bands = bands.join(
                    F.broadcast(dead_src.withColumnRenamed("doc_id", "id")),
                    "id",
                    "left_anti",
                )
            b_ids = bands.select(F.col("id").alias("doc_id")).distinct()
            bad(
                "band_orphans",
                b_ids.join(indexed.select("doc_id"), "doc_id", "left_anti").count(),
            )
            shingleable = indexed.filter(
                F.size(T.normalized_words("text")) >= m["shingle_n"]
            ).select("doc_id")
            bad(
                "band_missing",
                shingleable.join(b_ids, "doc_id", "left_anti").count(),
            )
            # stage-subset saves (DedupIndex.save(stages=...)) or a
            # torn write can leave pairs/verified absent — the probe
            # must REPORT that, not crash on the read (it exists for
            # post-crash triage)
            if not storage.parquet_dir_exists(f"{idx_path}/pairs"):
                bad("index_stage_missing_pairs", 1)
                return {"ok": not v, "violations": v}
            pairs = spark.read.parquet(f"{idx_path}/pairs")
            if dead_src is not None:
                for side in ("id_a", "id_b"):
                    pairs = pairs.join(
                        F.broadcast(
                            dead_src.withColumnRenamed("doc_id", side)
                        ),
                        side,
                        "left_anti",
                    )
            if cooccupancy:
                cooc = (
                    bands.alias("x")
                    .join(
                        bands.alias("y"),
                        (F.col("x.band") == F.col("y.band"))
                        & (F.col("x.key") == F.col("y.key"))
                        & (F.col("x.id") < F.col("y.id")),
                    )
                    .select(
                        F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b")
                    )
                    .distinct()
                )
                bad(
                    "pairs_not_cooccupant",
                    pairs.join(cooc, ["id_a", "id_b"], "left_anti").count(),
                )
            if not storage.parquet_dir_exists(f"{idx_path}/verified"):
                bad("index_stage_missing_verified", 1)
                return {"ok": not v, "violations": v}
            verified = spark.read.parquet(f"{idx_path}/verified")
            if dead_src is not None:
                for side in ("id_a", "id_b"):
                    verified = verified.join(
                        F.broadcast(
                            dead_src.withColumnRenamed("doc_id", side)
                        ),
                        side,
                        "left_anti",
                    )
            bad(
                "verified_not_in_pairs",
                verified.select("id_a", "id_b")
                .join(pairs, ["id_a", "id_b"], "left_anti")
                .count(),
            )
            if storage.parquet_dir_exists(f"{idx_path}/verified_clusters"):
                vc_ids = (
                    spark.read.parquet(f"{idx_path}/verified_clusters")
                    .select("id")
                    .distinct()
                )
                v_ids = (
                    verified.select(F.col("id_a").alias("id"))
                    .unionByName(verified.select(F.col("id_b").alias("id")))
                    .distinct()
                )
                bad(
                    "verified_cluster_orphans",
                    vc_ids.join(v_ids, "id", "left_anti").count(),
                )
        return {"ok": not v, "violations": v}

    def compact(self, *, target_rows_per_file: int = 1 << 20) -> dict:
        """Rewrite the state's append/tombstone logs into their
        steady-state form — the lifecycle operation a daily-delta
        deployment runs periodically, because :meth:`update` grows the
        state by O(updates) small files and every ``working()`` read
        pays an ever-growing tombstone anti-join:

        - ``working`` is rewritten as working-minus-tombstones (the
          merge-on-read resolved once) and the tombstone log is
          cleared;
        - ``grams`` drops tombstoned docs' postings (dead rows that
          every decontamination read filters out again);
        - ``indexed``/``hashes``/``contam`` and every index substrate
          are re-laid-out into files of at most
          ``target_rows_per_file`` rows (pure re-layout — these have no
          dead rows);
        - ``meta.n_compactions`` bumps, so readers can tell a
          compacted lineage from the update count alone.

        Every maintained VIEW (indexed/working/contamination/curated,
        and every index stage) is row-identical before and after —
        equality-tested in tests/test_incremental.py — and
        :meth:`update` composes with compaction transparently: the
        cleared tombstone log makes its anti-joins no-ops until new
        retractions arrive. Swap order is crash-considerate within the
        documented non-atomic seam: each directory is fully
        materialized before its delete+rename swap, and ``working`` is
        swapped before the tombstone clear (a stale tombstone over the
        already-live-only working log is a no-op at read, caught by
        :meth:`check` as the torn-state probe).

        → per-substrate ``{"rows", "files_before", "files_after"}``.

        Refuses (ValueError) while a ``pending`` update marker is on
        disk: the working rewrite would resolve the crashed update's
        UNCOMMITTED tombstones (src stamps beyond the meta high-water
        mark) and clear the tombstone log, leaving the repair replay
        unable to reconstruct the pre-crash live set — replay the torn
        delta (``update`` with the same bounds) first. ``vacuum``
        already refuses unhealthy states; this closes the direct-call
        path. Single-writer-fenced (see :mod:`.lease`): holds the
        state ROOT lease, so a concurrent update/absorber is refused
        instead of its appends being dropped by these swaps."""
        if self._read_pending() is not None:
            raise T.TornStateError(
                "CurationState.compact: a pending update marker is on disk — "
                "a previous update crashed mid-write; replay that delta "
                "(update with the same batch) before compacting, or the "
                "rewrite destroys the tombstone log the repair needs"
            )
        if self._has_ledger():
            n_rr = int(self.meta.get("n_retractions") or 0)
            if (
                self._root_ledger()
                .filter(F.col("rseq") > n_rr)
                .limit(1)
                .count()
            ):
                raise T.TornStateError(
                    "CurationState.compact: uncommitted retraction ledger "
                    "rows on disk — a previous retract() crashed "
                    "mid-protocol; replay that retraction (same ids) "
                    "before compacting, or the rewrites destroy the "
                    "repair's evidence"
                )
        self._refuse_if_as_of("compact")
        from .lease import dir_lease

        with dir_lease(self._path, role="CurationState.compact"):
            return self._compact_unfenced(
                target_rows_per_file=target_rows_per_file
            )

    def _compact_unfenced(self, *, target_rows_per_file: int = 1 << 20) -> dict:
        spark, p = self._spark, self._path
        out: dict[str, dict] = {}
        has_led = self._has_ledger()
        out["working"] = storage.rewrite_parquet_dir(
            spark,
            f"{p}/working",
            self.working().withColumn(
                "src_rseq", F.lit(None).cast("bigint")
            ),
            target_rows_per_file,
        )
        live_grams = (
            spark.read.schema(_GRAM_SCHEMA)
            .parquet(f"{p}/grams")
            .join(
                self._dead_docs().withColumnRenamed("doc_id", "id"),
                "id",
                "left_anti",
            )
        )
        out["grams"] = storage.rewrite_parquet_dir(
            spark, f"{p}/grams", live_grams, target_rows_per_file
        )
        # tombstones (and resurrection records) resolved into
        # working/grams above — clear the log
        storage.write_control_parquet(f"{p}/tombstones", [], _TOMB_SCHEMA)
        out["tombstones"] = {"rows": 0, "files_before": None, "files_after": None}
        # indexed resolves committed retractions physically; hashes is
        # recomputed from the live indexed set when a ledger exists
        # (this also retires legacy NULL-src_id hash rows of retracted
        # texts — the one suppression the view filter cannot lift)
        out["indexed"] = storage.rewrite_parquet_dir(
            spark, f"{p}/indexed", self.indexed(), target_rows_per_file
        )
        hashes_frame = (
            self.indexed()
            .groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("src_id"))
            if has_led
            else storage.read_parquet_pinned(spark, f"{p}/hashes")
        )
        out["hashes"] = storage.rewrite_parquet_dir(
            spark, f"{p}/hashes", hashes_frame, target_rows_per_file
        )
        if has_led:
            # re-lay and RETAIN the ledger: retract()'s idempotent-
            # replay detection and update's reuse refusal key on it
            out["retracted"] = storage.rewrite_parquet_dir(
                spark,
                f"{p}/retracted",
                self._root_ledger(),
                target_rows_per_file,
            )
            storage.stamp_resolved_retractions(
                p, int(self.meta.get("n_retractions") or 0)
            )
        out["contam"] = storage.rewrite_parquet_dir(
            spark, f"{p}/contam", self.contamination(), target_rows_per_file
        )
        out["index"] = T.DedupIndex.compact(
            spark, f"{p}/index", target_rows_per_file=target_rows_per_file
        )
        self.meta["n_compactions"] = int(self.meta.get("n_compactions") or 0) + 1
        self._append_manifest("compact")
        self._write_meta()
        return out

    def maybe_compact(
        self,
        *,
        max_files_per_substrate: int = 64,
        target_rows_per_file: int = 1 << 20,
    ) -> dict | None:
        """The self-maintenance policy wrapper over :meth:`compact`:
        compact only when some append log has accumulated more than
        ``max_files_per_substrate`` data files (the read-amplification
        driver — file count grows with UPDATE COUNT, not data). Call
        it after :meth:`update` on whatever cadence is convenient; at
        daily deltas and the default threshold that is roughly a
        bi-monthly compaction. Returns :meth:`compact`'s metrics when
        it ran, ``None`` when no substrate crossed the threshold (the
        check is a driver-side file listing — no Spark job)."""
        subs = ("indexed", "hashes", "working", "tombstones", "grams",
                "contam", "index/bands", "index/pairs", "index/verified")
        worst = max(storage.count_data_files(f"{self._path}/{s}") for s in subs)
        if worst <= max_files_per_substrate:
            return None
        return self.compact(target_rows_per_file=target_rows_per_file)

    # ------------------------------------------------------ construction

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        *,
        lang: str = "en",
        min_quality: float = 0.5,
        bench_source: str = "src0",
        redact: bool = False,
        denylist: tuple[str, ...] = ("customer", "supplier"),
        shingle_n: int = 3,
        k: int = 12,
        bands: int = 6,
        rows: int = 2,
        jaccard_threshold: float = 0.8,
        gram_n: int = 3,
        max_df_frac: float = 0.05,
        max_df: int = 64,
        contain_threshold: float = 0.8,
        max_band_size: int | None = None,
        gram_hash_family: str = "md5",
        max_doc_id: int | None = None,
    ) -> "CurationState":
        """Run the full pipeline over ``docs`` (columns doc_id, source,
        text; extra columns ignored) and persist every substrate under
        ``path``. Stage order matches curation.curate_corpus: lang →
        quality → [redact] → exact dedup → near-dup canonical →
        decontaminate.

        ``max_doc_id`` (round 12, optional): the ingestion high-water
        mark, when the caller already knows it — skips one full-corpus
        aggregate scan. Must be >= the true max doc_id of ``docs`` and
        < every future delta id; a monotone-cutoff builder (build over
        ids <= cut, update with ids > cut) passes ``cut``. Every
        consumer of the stamp compares it against event watermarks
        that are either <= the true max or > the first delta id, so
        any value in [true max, first delta id) yields identical
        views (update monotone check, repair stamps, as-of pins)."""
        meta = {
            "lang": lang,
            "min_quality": float(min_quality),
            "bench_source": bench_source,
            "redact": bool(redact),
            "denylist": ",".join(denylist),
            "shingle_n": shingle_n,
            "k": k,
            "bands": bands,
            "rows": rows,
            "jaccard_threshold": float(jaccard_threshold),
            "gram_n": gram_n,
            "max_df_frac": float(max_df_frac),
            "max_df": max_df,
            "contain_threshold": float(contain_threshold),
            # the skew guard (textops.pairs_from_band_frame's cap): an
            # adversarial corpus whose near-identical docs survive
            # exact dedup (boilerplate + unique tails) otherwise makes
            # the band self-join quadratic in the hot group. None =
            # exact (the default, and the update==rebuild oracle
            # contract); set it for adversarial corpora — update then
            # follows the documented monotone-superset cap contract.
            "max_band_size": max_band_size,
            # md5 is the oracle family; xxhash64 is the production
            # swap (one codegen call, 64-bit keys) — same plan shapes,
            # update==rebuild self-consistency-gated
            "gram_hash_family": gram_hash_family,
        }
        st = cls(spark, path, meta)
        from concurrent.futures import ThreadPoolExecutor

        # one pass over ``docs`` before anything is written: the id
        # high-water mark (unless the caller passed it) and the
        # non-null doc_id entry contract
        row = docs.agg(
            F.max("doc_id").alias("hi"), _null_ids("doc_id").alias("nulls")
        ).first()
        _refuse_null_ids("CurationState.build", row["nulls"])
        if max_doc_id is None:
            max_doc_id = row["hi"]
        cls._exact_dedup(st._filtered(docs)).write.mode("overwrite").parquet(
            f"{path}/indexed"
        )
        indexed = storage.read_parquet_pinned(spark, f"{path}/indexed")
        idx = T.DedupIndex(
            indexed,
            "text",
            "doc_id",
            shingle_n=shingle_n,
            k=k,
            bands=bands,
            rows=rows,
            threshold=jaccard_threshold,
            max_band_size=max_band_size,
        )
        # independent writes overlap from driver threads (build has no
        # crash contract to preserve — a torn build is rebuilt): the
        # hashes projection only needs the sealed indexed/ files, and
        # once the stage chain is materialized (forcing
        # verified_clusters runs bands → pairs → verified through the
        # component search's own action), the index save and the
        # working write are independent of each other too — round 12
        # widened the r11 two-way pool to hashes ∥ index-save ∥
        # working (guide §2.6; save's four stage writes additionally
        # overlap internally — textops.DedupIndex.save).
        # (h, src_id): still one row per distinct text hash (the
        # anti-join consumers key on h alone) — src_id, the doc that
        # introduced the hash, is the replay stamp (_HASH_SCHEMA note)
        def _hashes() -> None:
            indexed.groupBy(F.md5("text").alias("h")).agg(
                F.min("doc_id").alias("src_id")
            ).write.mode("overwrite").parquet(f"{path}/hashes")

        # curation never reads candidate-pair components — skip that
        # stage's build + write entirely (deletion decisions use
        # VERIFIED clusters only)
        working = cls._canonicals(indexed, idx.verified_clusters).withColumn(
            "src_rseq", F.lit(None).cast("bigint")
        )

        def _save_index() -> None:
            idx.save(
                f"{path}/index",
                stages=("bands", "pairs", "verified", "verified_clusters"),
            )

        def _working() -> None:
            working.write.mode("overwrite").parquet(f"{path}/working")

        with ThreadPoolExecutor(max_workers=3) as pool:
            for fut in [
                pool.submit(_hashes),
                pool.submit(_save_index),
                pool.submit(_working),
            ]:
                fut.result()
        working = storage.read_parquet_pinned(spark, f"{path}/working")
        storage.write_control_parquet(f"{path}/tombstones", [], _TOMB_SCHEMA)
        wrow_acc: dict = {}

        def _grams() -> None:
            st._gram_frame(working).write.mode("overwrite").parquet(
                f"{path}/grams"
            )

        def _contam() -> None:
            wrow = working.agg(
                F.count(F.lit(1)).alias("nw"),
                F.sum(
                    (F.col("source") == bench_source).cast("bigint")
                ).alias("nb"),
            ).first()
            wrow_acc.update(nw=int(wrow["nw"]), nb=int(wrow["nb"] or 0))
            contam = st._contam_pairs_full(working, wrow_acc["nw"])
            contam.write.mode("overwrite").parquet(f"{path}/contam")

        with ThreadPoolExecutor(max_workers=2) as pool:
            for fut in [pool.submit(_grams), pool.submit(_contam)]:
                fut.result()
        n_working = wrow_acc["nw"]
        meta["max_doc_id"] = -1 if max_doc_id is None else int(max_doc_id)
        meta["n_working"] = n_working
        meta["n_bench"] = wrow_acc["nb"]
        meta["n_updates"] = 0
        meta["n_compactions"] = 0
        meta["n_retractions"] = 0
        st._append_manifest("build")
        st._write_meta()
        return st

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "CurationState":
        meta = storage.read_control_row(f"{path}/meta")
        # states saved before the compaction lifecycle existed have no
        # n_compactions column; default it so the next _write_meta
        # (update/compact) doesn't KeyError mid-lifecycle
        meta.setdefault("n_compactions", 0)
        # states saved before the skew-cap column existed load uncapped
        meta.setdefault("max_band_size", None)
        # states saved before the gram hash family existed are md5
        meta.setdefault("gram_hash_family", "md5")
        # states saved before pipeline retraction existed
        if meta.get("n_retractions") is None:
            meta["n_retractions"] = 0
        return cls(spark, path, meta)

    def _write_meta(self) -> None:
        m = self.meta
        vals = tuple(m[f.split(" ")[0]] for f in _META_SCHEMA.split(", "))
        storage.write_control_parquet(f"{self._path}/meta", [vals], _META_SCHEMA)

    # ------------------------------------------------------ stage pieces

    def _filtered(self, docs: DataFrame) -> DataFrame:
        """Per-doc stages: lang-ID gate, quality gate, optional
        redaction — stateless, so a delta runs them independently."""
        m = self.meta
        d = docs.select("doc_id", "source", "text")
        d = d.filter(T.lang_id("text") == m["lang"]).filter(
            T.quality_score("text") >= m["min_quality"]
        )
        if m["redact"]:
            rules = [(T.EMAIL_PATTERN, "<EMAIL>"), (T.URL_PATTERN, "<URL>")]
            terms = tuple(t for t in m["denylist"].split(",") if t)
            if terms:
                rules.append((T.denylist_pattern(terms), "<ENTITY>"))
            d = d.withColumn("text", T.redact_text("text", rules))
        return d

    @staticmethod
    def _exact_dedup(d: DataFrame) -> DataFrame:
        """Keep-first per exact text hash. min_by aggregate, not a
        row_number window (round 12, guide §2.3/§2.4): the aggregate
        PARTIALLY REDUCES map-side — duplicate texts collapse to one
        row per map partition before the exchange, and no per-group
        sort runs after it — where the window shuffled and sorted
        every row to discard all but one per group. Row-set identical:
        doc_id is non-null (refused at entry) and unique, so min_by's
        winner is exactly the window's rn=1 row."""
        cols = d.columns
        return (
            d.groupBy(F.md5("text").alias("__h"))
            .agg(F.min_by(F.struct(*cols), F.col("doc_id")).alias("__r"))
            .select(*[F.col(f"__r.{c}").alias(c) for c in cols])
        )

    @staticmethod
    def _canonicals(docs: DataFrame, verified_clusters: DataFrame) -> DataFrame:
        """Best-quality member per verified cluster (quality desc —
        already 1e-6-rounded so the order is engine-deterministic —
        then doc_id asc); singletons represent themselves. Same rule
        as curation.near_dedup_canonical."""
        labeled = (
            docs.withColumn("__q", T.quality_score("text"))
            .join(
                verified_clusters.withColumnRenamed("id", "doc_id"),
                "doc_id",
                "left",
            )
            .withColumn("cluster", F.coalesce("cluster", "doc_id"))
        )
        w = Window.partitionBy("cluster").orderBy(
            F.col("__q").desc(), F.col("doc_id").asc()
        )
        return (
            labeled.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__q", "cluster")
        )

    def _gram_frame(self, docs: DataFrame) -> DataFrame:
        """Exploded hashed gram inverted index (id, g) — the persisted
        form of the decontamination candidate substrate."""
        return T.hashed_gram_sets(
            docs, "text", "doc_id", self.meta["gram_n"],
            self.meta.get("gram_hash_family", "md5"),
        ).select("id", F.explode("grams").alias("g"))

    def _orient(self, hits: DataFrame) -> DataFrame:
        """Orient verified mixed pairs as (train_id, bench_id)."""
        return hits.select(
            F.when(~F.col("ba"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("train_id"),
            F.when(F.col("ba"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("bench_id"),
            "containment",
        )

    def _contam_pairs_full(self, working: DataFrame, n_working: int) -> DataFrame:
        """Full decontamination mine over the working set, keeping the
        evidence PAIRS (textops.decontaminate keeps flags only): same
        df-pruned candidates, same classify-before-verify shape."""
        m = self.meta
        cand, sets = T._pruned_gram_candidates(
            working, "text", "doc_id", m["gram_n"], m["max_df_frac"],
            m["max_df"], m.get("gram_hash_family", "md5"),
        )
        flags = working.select(
            F.col("doc_id").alias("id"),
            (F.col("source") == m["bench_source"]).alias("__b"),
        )
        mixed = (
            cand.join(flags.select(F.col("id").alias("id_a"), F.col("__b").alias("ba")), "id_a")
            .join(flags.select(F.col("id").alias("id_b"), F.col("__b").alias("bb")), "id_b")
            .filter(F.col("ba") != F.col("bb"))
            .drop("bb")
        )
        hits = T._containment_verified(mixed, sets, m["contain_threshold"])
        return self._orient(hits)

    # ------------------------------------------------------------ update

    def update(self, delta_docs: DataFrame) -> dict:
        """Absorb a corpus delta. Every step is bounded by the delta
        plus the old rows its pairs actually touch (see module
        docstring); returns per-stage metrics. Raises if the delta
        violates the monotone-ingestion contract.

        Deltas are source-agnostic: a delta of ``bench_source`` docs —
        a NEW benchmark suite landing after the corpus was curated —
        takes the same path as training data. Its docs' grams join the
        existing working set through ``cand_delta``, so every old
        train doc the new suite contaminates is flagged incrementally
        (and a new bench doc that near-dups into an existing cluster
        participates in canonical displacement like any other member).
        ``update == rebuild`` holds for pure-bench deltas exactly as
        for train deltas (test_new_benchmark_suite_delta and the
        bench_mask leg of the Hypothesis property test).

        CRASH CONTRACT (round 8): the multi-substrate write sequence
        is bracketed by a driver-side ``pending`` marker (the delta's
        id bounds, written before the first substrate write, cleared
        after the meta stamp). Replaying the SAME delta against a
        matching marker runs in repair mode and converges to exactly
        the clean-update state no matter which prefix of the writes
        the crash preserved — landed-but-unstamped rows are dropped
        from every loaded substrate (doc-keyed logs by id, hashes /
        tombstones by their src stamps, the index by
        ``DedupIndex.rollback_unstamped``), every append is anti-join
        guarded (torn partial appends included), and the contam
        swap's between-renames window is recovered from a surviving
        complete copy (test-asserted across seven crash windows in
        tests/test_incremental.py). A marker from a DIFFERENT delta
        raises: that batch must be replayed first. ``check()`` reports
        a dangling marker as ``pending_update_marker``.

        Single-writer-fenced (round 9, see :mod:`.lease`): the state
        ROOT lease is held for the whole write sequence, so a
        concurrent ``compact``/``vacuum`` on the same state is refused
        loudly instead of its rename-aside swaps racing these appends
        (the index half additionally takes ``<root>/index`` through
        ``DedupIndex.append_saved`` — distinct scopes, no self-
        contention)."""
        self._refuse_if_as_of("update")
        from .lease import dir_lease

        with dir_lease(self._path, role="CurationState.update"):
            return self._update_unfenced(delta_docs)

    def _update_unfenced(self, delta_docs: DataFrame) -> dict:
        spark, p, m = self._spark, self._path, self.meta
        # one pass over the delta for cutoffs AND the row-count metric
        # (it was a separate count() job; every action here is ~250
        # small AQE stages of fixed scheduling cost — VERDICT r7 #2)
        bounds = delta_docs.agg(
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            _null_ids("doc_id").alias("nulls"),
        ).first()
        _refuse_null_ids("CurationState.update", bounds["nulls"])
        if bounds["lo"] is None:
            # same key set as the non-empty path: contam_pairs reports
            # the CURRENT pair count (nothing changed), not a bogus 0
            return {"delta_rows": 0, "new_indexed": 0, "working_adds": 0,
                    "working_retracts": 0, "bench_adds": 0,
                    "contam_pairs": int(self.contamination().count()),
                    "contam_pairs_added": 0,
                    "n_working": int(m["n_working"])}
        if bounds["lo"] <= m["max_doc_id"]:
            raise ValueError(
                "CurationState.update: monotone-ingestion contract violated — "
                f"delta min doc_id {bounds['lo']} <= indexed max "
                f"{m['max_doc_id']}; exact-dedup keep-first and index "
                "id-disjointness both require append-only ids"
            )
        if self._has_ledger():
            n_rr = int(m.get("n_retractions") or 0)
            if (
                self._root_ledger()
                .filter(F.col("rseq") > n_rr)
                .limit(1)
                .count()
            ):
                raise ValueError(
                    "CurationState.update: uncommitted retraction ledger "
                    "rows on disk — a previous retract() crashed "
                    "mid-protocol; replay that retraction (retract with "
                    "the same ids) before updating, or its derived writes "
                    "would be misattributed to this delta"
                )

        # -- commit protocol: a matching pending marker means the
        #    previous attempt at THIS delta crashed mid-write — run in
        #    repair mode: reconstruct the pre-crash state by dropping
        #    landed-but-unstamped rows (ids/src stamps beyond the meta
        #    high-water mark) from every loaded substrate, and guard
        #    every append with an anti-join so nothing lands twice.
        #    Repair-mode extra work (stamp filters + per-append
        #    anti-joins) is paid ONLY on the crash-replay branch.
        stamp = int(m["max_doc_id"])
        pending = self._read_pending()
        repair = False
        if pending is not None:
            if (int(pending["lo"]), int(pending["hi"])) != (
                int(bounds["lo"]),
                int(bounds["hi"]),
            ):
                raise ValueError(
                    "CurationState.update: pending marker from a different "
                    f"delta (lo={pending['lo']}, hi={pending['hi']}) — a "
                    "previous update of THAT batch crashed mid-write; "
                    "replay it (same bounds) before absorbing new deltas"
                )
            repair = True
            # the one non-append write is the contam swap — recover the
            # between-renames crash window before reading it
            storage.recover_swapped_dir(f"{p}/contam")
        if not repair:
            # on a repair replay the on-disk marker already holds these
            # exact bounds — rewriting it would reopen the two-rename
            # swap window (a second crash between the renames deletes
            # the marker, and the NEXT replay then runs non-repair
            # against a partially-landed state and double-appends)
            self._write_pending(int(bounds["lo"]), int(bounds["hi"]))

        # -- per-doc stages + exact dedup against the hash substrate
        d1 = self._exact_dedup(self._filtered(delta_docs))
        hashes = spark.read.schema(_HASH_SCHEMA).parquet(f"{p}/hashes")
        if repair:
            hashes = hashes.filter(
                F.col("src_id").isNull() | (F.col("src_id") <= stamp)
            )
        dead_src = self._committed_retracted()
        if dead_src is not None:
            # a retracted doc's text hash no longer suppresses
            # re-ingestion — build(corpus ∖ r) would ingest the text
            # fresh. (Legacy pre-round-8 hash rows with NULL src_id
            # keep suppressing until compact() recomputes hashes from
            # the live indexed set.)
            hashes = hashes.join(
                F.broadcast(dead_src.withColumnRenamed("doc_id", "src_id")),
                "src_id",
                "left_anti",
            )
        # lazy: the index update's band build is the next action and
        # materializes this (and every later consumer reads the
        # truncated lineage) — an eager checkpoint here was one more
        # scheduled job for the same work
        new_indexed = (
            d1.withColumn("__h", F.md5("text"))
            .join(hashes.select("h"), F.col("__h") == F.col("h"), "left_anti")
            .drop("__h")
            .localCheckpoint(eager=False)
        )

        # -- near-dup index: banded delta join + star-seeded components
        old_indexed = self.indexed()
        if repair:
            old_indexed = old_indexed.filter(F.col("doc_id") <= stamp)
        idx = self.dedup_index()
        idx_labels = idx.rollback_unstamped(stamp) if repair else ()
        idx.update(new_indexed, old_docs=old_indexed)
        vc = idx.verified_clusters.withColumnRenamed("id", "doc_id")

        # -- canonical recompute over the clusters the delta touched
        new_ids = new_indexed.select("doc_id")
        # no distinct: touched feeds a left_semi join only, which
        # tolerates duplicate keys — the dedup shuffle bought nothing
        touched = vc.join(new_ids, "doc_id", "left_semi").select("cluster")
        # members and the winner set are each read by BOTH the adds and
        # the retracts actions — lazy checkpoints so the window/join
        # trees execute once, not once per consumer
        members = vc.join(touched, "cluster", "left_semi").localCheckpoint(
            eager=False
        )
        texts = old_indexed.select("doc_id", "source", "text").unionByName(
            new_indexed.select("doc_id", "source", "text")
        )
        mem_docs = members.join(texts, "doc_id")
        w = Window.partitionBy("cluster").orderBy(
            F.col("__q").desc(), F.col("doc_id").asc()
        )
        winners = (
            mem_docs.withColumn("__q", T.quality_score("text"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("doc_id", "source", "text")
        )
        singletons = new_indexed.select("doc_id", "source", "text").join(
            vc.select("doc_id"), "doc_id", "left_anti"
        )
        new_canon = winners.unionByName(singletons).localCheckpoint(eager=False)
        old_live = self.working(stamp=stamp if repair else None)
        # lazy: the fused adds/retracts aggregate below is the
        # materializing action for both frames
        adds = new_canon.join(
            old_live.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=False)
        # a previously tombstoned doc can never win again: clusters
        # only grow, and the member that displaced it stays a member
        retracts = (
            old_live.join(members.select("doc_id"), "doc_id", "left_semi")
            .join(new_canon.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", "source")
            .localCheckpoint(eager=False)
        )
        is_bench = (F.col("source") == m["bench_source"]).cast("bigint")
        # one fused job over the two checkpointed frames instead of two
        # sibling aggregates
        ar_rows = {
            int(r["__add"]): r
            for r in adds.select(F.lit(1).alias("__add"), is_bench.alias("__b"))
            .unionByName(
                retracts.select(F.lit(0).alias("__add"), is_bench.alias("__b"))
            )
            .groupBy("__add")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("__b").alias("nb"))
            .collect()
        }

        def _cnt(side: int, field: str) -> int:
            r = ar_rows.get(side)
            return int(r[field] or 0) if r is not None else 0

        n_adds, n_retracts = _cnt(1, "n"), _cnt(0, "n")
        bench_delta = _cnt(1, "nb") - _cnt(0, "nb")

        # -- decontamination: delta-bounded candidate mine over the
        #    persisted gram index, exact w.r.t. the df cap's
        #    corpus-size dependence in BOTH directions. Document
        #    frequencies are computed for a RESTRICTED gram set only
        #    (delta grams, retract-touched grams, stored-pair grams):
        #    at scale the cap saturates at max_df, so a gram's allowed
        #    status can only change if its df changed — and dfs change
        #    only for grams of added or retracted docs. The full-df
        #    fallback runs only while the fractional cap still governs
        #    (working set < max_df/max_df_frac docs), where it is
        #    trivially cheap.
        g_all = spark.read.schema(_GRAM_SCHEMA).parquet(f"{p}/grams")
        if repair:
            g_all = g_all.filter(F.col("id") <= stamp)
        g_old_live = g_all.join(
            self._dead_docs(stamp=stamp if repair else None)
            .withColumnRenamed("doc_id", "id"),
            "id",
            "left_anti",
        )
        # retraction-free fast path (the common daily delta): every
        # retract-derived branch below is PROVABLY empty, so its joins
        # and aggregations are dropped from the plans outright instead
        # of scheduling empty stages — row-identical by construction
        # (n_adds/n_retracts came from the checkpointed frames above)
        no_retracts = n_retracts == 0
        g_after = (
            g_old_live
            if no_retracts
            else g_old_live.join(
                retracts.withColumnRenamed("doc_id", "id"), "id", "left_anti"
            )
        )
        # lazy: materialized by the restricted/df jobs below, before
        # any self-joining consumer
        g_add = self._gram_frame(adds).localCheckpoint(eager=False)
        g_new = g_after.unionByName(g_add)
        n_working_new = m["n_working"] - n_retracts + n_adds
        cap_old = _df_cap(m["max_df"], m["max_df_frac"], max(m["n_working"], 1))
        cap_new = _df_cap(m["max_df"], m["max_df_frac"], max(n_working_new, 1))
        stored = self.contamination()
        if repair:
            # every pair the crashed run ADDED involves an added doc
            # (> stamp) on one side; pairs it PRUNED (liveness /
            # reachability) cannot be resurrected, but pruning is a
            # deterministic filter given the same delta — re-pruning
            # the already-pruned set is a no-op, so the redo still
            # converges to the clean result even when the crashed
            # contam swap completed (flip-re-mined old×old pairs are
            # likewise re-mined and deduplicated by the flip branch)
            stored = stored.filter(
                (F.col("train_id") <= stamp) & (F.col("bench_id") <= stamp)
            )
        # no distinct: consumed only through broadcast left_semi joins
        # (duplicate ids are harmless there) and the pair set is small —
        # dropping the dedup shuffle is free
        stored_ids = stored.select(F.col("train_id").alias("id")).unionByName(
            stored.select(F.col("bench_id").alias("id"))
        )
        g_ret = (
            None
            if no_retracts
            else g_old_live.join(
                retracts.withColumnRenamed("doc_id", "id"), "id", "left_semi"
            )
        )
        ch_add = g_add.groupBy("g").agg(F.count(F.lit(1)).alias("ca"))
        if cap_new == cap_old:
            # restricted df: only grams whose allowed status can matter
            restricted = g_add.select("g")
            if g_ret is not None:
                restricted = restricted.unionByName(g_ret.select("g"))
            restricted = (
                restricted.unionByName(
                    g_new.join(F.broadcast(stored_ids), "id", "left_semi").select("g")
                )
                .distinct()
                .localCheckpoint()
            )
            df_old = (
                g_old_live.join(F.broadcast(restricted), "g", "left_semi")
                .groupBy("g")
                .agg(F.count(F.lit(1)).alias("df_o"))
            )
        else:
            restricted = None
            df_old = g_old_live.groupBy("g").agg(F.count(F.lit(1)).alias("df_o"))
        df_new = df_old.join(ch_add, "g", "full")
        if g_ret is not None:
            ch_ret = g_ret.groupBy("g").agg(F.count(F.lit(1)).alias("cr"))
            df_new = df_new.join(ch_ret, "g", "full")
        df_new = (
            df_new.select(
                "g",
                "df_o",
                (
                    F.coalesce("df_o", F.lit(0))
                    + F.coalesce("ca", F.lit(0))
                    - (
                        F.lit(0)
                        if no_retracts
                        else F.coalesce("cr", F.lit(0))
                    )
                ).alias("df_n"),
            )
            .filter(F.col("df_n") > 0)
            .localCheckpoint()
        )
        allowed = df_new.filter(F.col("df_n") <= cap_new).select("g")
        # grams whose posting list crossed UNDER the cap (df shrank via
        # retraction, or the cap itself moved with the corpus size): a
        # fresh rebuild would mine their FULL posting lists, so we must.
        # Without retractions and with the cap unchanged, a flip is
        # IMPOSSIBLE (dfs only grow: df_n >= df_o, so df_o > cap and
        # df_n <= cap cannot both hold) — the whole posting re-mine
        # branch is dropped statically, no runtime probe needed.
        no_flips = no_retracts and cap_new == cap_old
        ga = g_add.join(F.broadcast(allowed), "g", "left_semi")
        # the allowed filter is a broadcast semi-join, so these are
        # scans of the stored index, never a corpus-extent shuffle
        gn_allowed = g_new.join(F.broadcast(allowed), "g", "left_semi")
        cand_delta = (
            ga.alias("a")
            .join(gn_allowed.alias("b"), "g")
            .filter(F.col("a.id") != F.col("b.id"))
            .select(
                F.least("a.id", "b.id").alias("id_a"),
                F.greatest("a.id", "b.id").alias("id_b"),
            )
            .distinct()
        )
        if no_flips:
            cand = cand_delta
        else:
            flipped = (
                df_new.filter(
                    (F.col("df_n") <= cap_new) & (F.col("df_o") > cap_old)
                ).select("g")
            )
            postings_f = (
                g_new.join(F.broadcast(flipped), "g", "left_semi")
                .groupBy("g")
                .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            )
            cand = cand_delta.unionByName(T.posting_pairs(postings_f)).distinct()
        working_new = old_live.select("doc_id", "source", "text")
        if not no_retracts:
            working_new = working_new.join(retracts, "doc_id", "left_anti")
        working_new = working_new.unionByName(
            adds.select("doc_id", "source", "text")
        )
        flags = working_new.select(
            F.col("doc_id").alias("id"),
            (F.col("source") == m["bench_source"]).alias("__b"),
        )
        mixed = (
            cand.join(flags.select(F.col("id").alias("id_a"), F.col("__b").alias("ba")), "id_a")
            .join(flags.select(F.col("id").alias("id_b"), F.col("__b").alias("bb")), "id_b")
            .filter(F.col("ba") != F.col("bb"))
            .drop("bb")
            # pinned: consumed by BOTH the gram-set pass (via pair_ids)
            # and the containment verify — unpinned, the whole
            # delta-mine DAG above (allowed filter, candidate join,
            # flag joins) re-executed once per consumer (round-12 job
            # census: the two consumers held 36 of update's 91 driver
            # jobs). Delta-bounded rows, so the pin is small.
            .localCheckpoint(eager=False)
        )
        # no distinct: left_semi consumer
        pair_ids = mixed.select(F.col("id_a").alias("doc_id")).unionByName(
            mixed.select(F.col("id_b").alias("doc_id"))
        )
        sets = T.hashed_gram_sets(
            working_new.join(pair_ids, "doc_id", "left_semi"),
            "text",
            "doc_id",
            m["gram_n"],
            m.get("gram_hash_family", "md5"),
        ).localCheckpoint(eager=False)
        new_pairs = self._orient(
            T._containment_verified(mixed, sets, m["contain_threshold"])
        )
        stored_live = (
            stored
            if no_retracts
            else stored.join(
                retracts.withColumnRenamed("doc_id", "train_id"),
                "train_id",
                "left_anti",
            ).join(
                retracts.withColumnRenamed("doc_id", "bench_id"),
                "bench_id",
                "left_anti",
            )
        )
        # reachability recheck: a stored pair survives only if it still
        # shares an under-cap gram — a fresh rebuild would not even
        # candidate it otherwise. Pinned: the x/y self-join below reads
        # it twice, and each unpinned read is a fresh scan of the full
        # grams log (stored-pair-bounded rows, so the pin is small)
        g_stored = gn_allowed.join(
            F.broadcast(stored_ids), "id", "left_semi"
        ).localCheckpoint(eager=False)
        reach = (
            stored_live.alias("s")
            .join(g_stored.alias("x"), F.col("s.train_id") == F.col("x.id"))
            .join(
                g_stored.alias("y"),
                (F.col("s.bench_id") == F.col("y.id"))
                & (F.col("x.g") == F.col("y.g")),
            )
            .select("s.train_id", "s.bench_id")
            # no distinct: left_semi consumer
        )
        contam_final = stored_live.join(
            reach, ["train_id", "bench_id"], "left_semi"
        ).unionByName(new_pairs)
        # duplicates are possible ONLY through the flipped-gram posting
        # re-mine (a full posting list regenerates old×old pairs that
        # may already be stored); with no_flips the union is provably
        # disjoint — stored pairs reference previously-live docs on
        # both sides while every new pair involves an added doc (adds =
        # new_canon ∖ old_live), and cand_delta is already distinct —
        # so the dedup shuffle is dropped from the plan
        if not no_flips:
            contam_final = contam_final.dropDuplicates(["train_id", "bench_id"])
        # lazy: the fused count job below materializes it
        contam_final = contam_final.localCheckpoint(eager=False)
        # all metrics read OLD state — computed before any file is
        # appended (bench_delta came from the fused adds/retracts agg
        # above, n_delta_rows from the bounds pass); the three frame
        # counts fuse into ONE job over checkpointed/tiny frames
        n_delta_rows = int(bounds["n"])
        cnt_rows = {
            r["__t"]: int(r["n"])
            for r in stored.select(F.lit("sp").alias("__t"))
            .unionByName(contam_final.select(F.lit("cf").alias("__t")))
            .unionByName(new_indexed.select(F.lit("ni").alias("__t")))
            .groupBy("__t")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_pairs_before = cnt_rows.get("sp", 0)
        n_pairs_after = cnt_rows.get("cf", 0)
        n_new_indexed = cnt_rows.get("ni", 0)

        # -- persist: index delta first (its lazy stages read the
        #    pre-append indexed/ and index/bands file LISTINGS, so it
        #    must materialize before those logs grow), then the six
        #    independent writes CONCURRENTLY from driver threads, then
        #    the meta stamp, then the pending-marker clear. The
        #    concurrency is safe on both axes: every written frame is
        #    checkpoint-pinned and already materialized (by the index
        #    update, the fused aggregates, or the metrics job), so the
        #    write jobs read sealed partitions and no substrate reads
        #    another's directory; and the crash contract doesn't need
        #    an order — repair mode reconstructs from an ARBITRARY
        #    landed subset, not just a prefix, because every substrate
        #    carries its own stamp. In repair mode every append
        #    anti-joins its on-disk log (keyed uniquely: docs by
        #    doc_id, hashes by h — global distinctness holds because
        #    new_indexed survived the anti-join against committed
        #    hashes — grams by (id, g), tombstones by doc_id — a doc
        #    tombstones at most once ever, retracts draw from old_live
        #    which excludes the already-tombstoned), so rows a crashed
        #    attempt landed are never duplicated, torn partial appends
        #    included. Serial, the six writes were ~40% of update's
        #    warm wall (each a small job that leaves local[32] idle);
        #    overlapped they cost ~the slowest one.
        _SUB_SCHEMAS = {
            "working": _WORK_SCHEMA,
            "tombstones": _TOMB_SCHEMA,
            "grams": _GRAM_SCHEMA,
            "hashes": _HASH_SCHEMA,
        }

        def _append(delta: DataFrame, sub: str, keys: list[str]) -> None:
            if repair:
                # restore the delta's column order after the
                # key-promoting anti-join — uniform file layouts.
                # Explicit-schema read where the substrate has grown
                # columns over rounds: schema inference samples ONE
                # footer (mergeSchema off), so a legacy file without
                # e.g. src_max_id would make the key select raise and
                # kill the repair the crash contract depends on
                reader = spark.read
                if sub in _SUB_SCHEMAS:
                    reader = reader.schema(_SUB_SCHEMAS[sub])
                delta = (
                    delta.join(
                        reader.parquet(f"{p}/{sub}").select(*keys),
                        keys,
                        "left_anti",
                    )
                    .select(*delta.columns)
                    .localCheckpoint()
                )
            delta.write.mode("append").parquet(f"{p}/{sub}")

        for s in idx_labels:
            getattr(idx, s)  # force rebuild so append_saved rewrites it
        idx.append_saved(f"{p}/index", repair=repair)
        writes = (
            lambda: _append(new_indexed, "indexed", ["doc_id"]),
            lambda: _append(
                new_indexed.groupBy(F.md5("text").alias("h")).agg(
                    F.min("doc_id").alias("src_id")
                ),
                "hashes",
                ["h"],
            ),
            lambda: _append(
                adds.select(
                    "doc_id", "source", "text",
                    F.lit(None).cast("bigint").alias("src_rseq"),
                ),
                "working",
                ["doc_id"],
            ),
            lambda: _append(
                retracts.select(
                    "doc_id",
                    F.lit(int(bounds["hi"])).cast("bigint").alias("src_max_id"),
                    F.lit(None).cast("bigint").alias("rseq"),
                    F.lit(False).alias("res"),
                ),
                "tombstones",
                # keyed per EVENT, not per doc: a doc resurrected by a
                # retraction can be displaced again by a later update,
                # and a doc_id-only repair guard would silently skip
                # that second, legitimate tombstone
                ["doc_id", "src_max_id"],
            ),
            lambda: _append(g_add, "grams", ["id", "g"]),
            # the one non-append write: rename-aside swap, so a
            # complete contam copy exists on disk at every instant
            # (the repair branch recovers the between-renames window
            # at entry); the fused metrics job already counted the
            # checkpointed frame, so the swap costs exactly the one
            # write job the old bare overwrite did
            lambda: storage.rewrite_parquet_dir(
                spark, f"{p}/contam", contam_final, 1 << 20, n_rows=n_pairs_after
            ),
        )
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            for fut in [pool.submit(w) for w in writes]:
                fut.result()  # surface the first failure loudly
        m["max_doc_id"] = int(bounds["hi"])
        m["n_working"] = int(n_working_new)
        m["n_bench"] = int(m["n_bench"] + bench_delta)
        m["n_updates"] = int(m["n_updates"]) + 1
        self._append_manifest("update")
        self._write_meta()
        self._clear_pending()
        return {
            "delta_rows": n_delta_rows,
            "new_indexed": n_new_indexed,
            "working_adds": n_adds,
            "working_retracts": n_retracts,
            # bench-side visibility: a delta is not always training
            # data — a NEW benchmark suite arriving is the other daily
            # event, and its docs flow through the same delta path
            # (bench adds mine against the existing working set via
            # cand_delta, so previously clean train docs get flagged
            # without a rebuild — test_new_benchmark_suite_delta)
            "bench_adds": _cnt(1, "nb"),
            "contam_pairs": n_pairs_after,
            "contam_pairs_added": n_pairs_after - n_pairs_before,
            "n_working": n_working_new,
        }

    # ----------------------------------------------------------- retract

    def retract(self, ids: DataFrame) -> dict:
        """Pipeline-level deletion (round 10 — VERDICT r9 Next #1):
        remove documents from EVERY substrate the state maintains —
        indexed/hashes (view-filtered by the root ledger, resolved by
        :meth:`compact`), the embedded :class:`textops.DedupIndex`
        (its own ``retract``/``retract_saved``, affected-cluster
        relabel included), the working set (retracted canonicals
        tombstone; their clusters' surviving members re-elect a
        canonical, including the SPLIT case where one cluster yields
        several new winners; a canonical an earlier update DISPLACED
        is RESURRECTED via an append-only counter-record when its
        displacer is retracted), grams (newly elected canonicals'
        postings append; dead postings tombstone-filter until
        compact), and contamination (pairs touching retracted
        canonicals die; newly live canonicals mine incrementally; df
        flips in BOTH directions — a gram crossing under the cap
        re-mines its full posting list, stored pairs whose every
        witnessing gram crossed over re-check reachability — exactly
        as :meth:`update` handles the mirror-image arrivals).

        ``retract(r) == build(corpus ∖ r)`` on every view (indexed /
        working / contamination / curated), oracle-gated (t44), with
        ONE documented exact-dedup caveat: a retracted doc that
        SHADOWED an exact-duplicate text (keep-first winner whose
        loser was never ingested) cannot resurrect the loser — the
        state never stored it. The loser's text is no longer
        suppressed (the hash dies with the retracted doc), so a
        RE-INGESTED copy takes its place, which is the rebuild-forward
        semantics a takedown needs.

        COMMIT PROTOCOL (the family retraction-sequence protocol
        lifted to the multi-substrate state, composed with the
        pending-marker machinery): the root ledger rows land FIRST at
        ``rseq = k+1`` (uncommitted until the meta bump — they are
        the torn-retract signal, playing the role update's ``pending``
        marker plays), then the index's own fenced
        ``retract_saved`` (self-repairing, idempotent when already
        committed), then the derived writes — working appends stamped
        ``src_rseq = k+1``, tombstone/resurrection rows stamped
        ``rseq = k+1`` (readers serve neither until commit), gram
        appends (anti-join-guarded on replay), the contam rename-aside
        swap (recomputed deterministically from committed state, so a
        replay converges) — and meta commits ``n_retractions = k+1``
        LAST. A same-ids replay repairs and re-lands; a fully
        committed replay skips idempotently; partial overlap and a
        DIFFERENT torn retraction raise; ``update``/``compact`` refuse
        while uncommitted ledger rows exist. Retracted ids stay dead:
        the monotone-ingestion contract refuses their reuse by
        construction. Single-writer-fenced on the state root.

        Cost is bounded by the retracted docs' cluster neighborhoods
        plus the touched grams' posting lists — never the corpus: the
        affected post-components are exactly the post-retract clusters
        of the retracted docs' DIRECT verified neighbors (every
        component of a split cluster keeps at least one such neighbor
        — the edge leaving the component led to a retracted doc), so
        no full component re-run happens here beyond what
        ``DedupIndex.retract`` already bounds."""
        self._refuse_if_as_of("retract")
        from .lease import dir_lease

        with dir_lease(self._path, role="CurationState.retract"):
            return self._retract_unfenced(ids)

    def _retract_unfenced(self, ids: DataFrame) -> dict:
        spark, p, m = self._spark, self._path, self.meta
        n_r = int(m.get("n_retractions") or 0)
        stamp = int(m["max_doc_id"])
        r = (
            ids.select(F.col(ids.columns[0]).cast("long").alias("doc_id"))
            .distinct()
            .localCheckpoint()
        )
        # one fused pass over the (checkpointed, tiny) retraction set
        # for the emptiness probe AND the high-water guard — was two
        # driver jobs
        bounds_r = r.agg(
            F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("hi")
        ).first()
        n_ids = int(bounds_r["n"])
        noop = {
            "retracted": 0, "working_retracts": 0, "working_adds": 0,
            "resurrected": 0, "contam_pairs": None, "n_working": int(m["n_working"]),
        }
        if n_ids == 0:
            return noop
        hi = int(bounds_r["hi"])
        if hi > stamp:
            raise ValueError(
                "CurationState.retract: delta contains id(s) above the "
                f"ingested high-water mark {stamp} — those documents were "
                "never ingested into this state"
            )
        if self._read_pending() is not None:
            raise ValueError(
                "CurationState.retract: a pending update marker is on disk "
                "— a previous update crashed mid-write; replay that delta "
                "(update with the same batch) before retracting"
            )
        led_path = f"{p}/retracted"
        repair = False
        if storage.parquet_dir_exists(led_path):
            storage.recover_swapped_dir(led_path)
            led = self._root_ledger()
            unc = led.filter(F.col("rseq") > n_r).select("doc_id").distinct()
            if unc.limit(1).count():
                if (
                    unc.join(r, "doc_id", "left_anti").limit(1).count()
                    or r.join(unc, "doc_id", "left_anti").limit(1).count()
                ):
                    raise ValueError(
                        "CurationState.retract: uncommitted ledger rows "
                        "from a DIFFERENT torn retraction are on disk — "
                        "replay that retraction (same ids) before this one"
                    )
                repair = True
            committed = led.filter(F.col("rseq") <= n_r).select("doc_id")
            n_in = r.join(committed, "doc_id", "left_semi").count()
            if n_in == n_ids:
                out = dict(noop)
                out["replayed"] = True
                return out
            if n_in:
                raise ValueError(
                    f"CurationState.retract: {n_in} of {n_ids} id(s) are "
                    "already retracted on disk — a partial overlap "
                    "re-derives against wrong state; retract only new ids"
                )
        if repair:
            # the one non-append write is the contam swap — recover the
            # between-renames crash window before reading it
            storage.recover_swapped_dir(f"{p}/contam")

        # ---- derivation (committed views throughout; every frame
        #      below is replay-deterministic, which is what makes the
        #      anti-join-guarded re-land converge)
        prior = self._committed_retracted()
        # pre-retract verified edges from the PHYSICAL rows: the
        # loaded index hides edges of already-committed retractions —
        # including THIS one's on a repair replay after the index half
        # committed — so the neighbor set reads raw and filters only
        # the retractions committed BEFORE this op
        raw_v = storage.read_parquet_pinned(spark, f"{p}/index/verified").select(
            "id_a", "id_b"
        )
        if prior is not None:
            pr = prior.join(r, "doc_id", "left_anti")
            for side in ("id_a", "id_b"):
                raw_v = raw_v.join(
                    F.broadcast(pr.withColumnRenamed("doc_id", side)),
                    side,
                    "left_anti",
                )
        nbr = (
            raw_v.join(
                F.broadcast(r.withColumnRenamed("doc_id", "id_a")),
                "id_a",
                "left_semi",
            )
            .select(F.col("id_b").alias("doc_id"))
            .unionByName(
                raw_v.join(
                    F.broadcast(r.withColumnRenamed("doc_id", "id_b")),
                    "id_b",
                    "left_semi",
                ).select(F.col("id_a").alias("doc_id"))
            )
            .distinct()
            .join(F.broadcast(r), "doc_id", "left_anti")
            .localCheckpoint()
        )
        idx = self.dedup_index()
        idx.retract(r)  # in-memory (idempotent no-op when the index
        # half already committed on a previous attempt — the replay
        # flag makes retract_saved skip below)
        post_lbl = idx._verified_clusters.withColumnRenamed("id", "doc_id")
        aff_cl = (
            post_lbl.join(F.broadcast(nbr), "doc_id", "left_semi")
            .select("cluster")
            .distinct()
        )
        aff_ids = (
            post_lbl.join(aff_cl, "cluster", "left_semi")
            .select("doc_id")
            .unionByName(nbr)
            .distinct()
            .localCheckpoint()
        )
        old_indexed = self.indexed()
        aff_docs = old_indexed.join(F.broadcast(aff_ids), "doc_id", "left_semi")
        live = self.working()
        from concurrent.futures import ThreadPoolExecutor

        # the three neighborhood-sized eager pins are independent of
        # the canonical re-election — overlap their jobs from driver
        # threads (each is a small job that leaves local[N] idle when
        # run back-to-back; same §2.6 shape as the commit writes below)
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_dead = pool.submit(lambda: self._dead_docs().localCheckpoint())
            f_retr = pool.submit(
                lambda: live.join(F.broadcast(r), "doc_id", "left_semi")
                .select("doc_id", "source")
                .localCheckpoint()
            )
            try:
                winners = self._canonicals(
                    aff_docs, idx._verified_clusters
                ).localCheckpoint()
            except BaseException:
                # surface the main-thread failure promptly instead of
                # blocking in __exit__ until both submitted checkpoint
                # jobs finish with their results never retrieved
                # (advice r11 #4); cancel what hasn't started and
                # swallow the secondaries — the primary error is the
                # one the caller must see
                for f in (f_dead, f_retr):
                    f.cancel()
                raise
            dead_log, retracts_w = f_dead.result(), f_retr.result()
        in_log = self._working_log()
        if self._has_ledger():
            in_log = in_log.filter(
                F.col("src_rseq").isNull() | (F.col("src_rseq") <= n_r)
            )
        in_log = in_log.select("doc_id")
        with ThreadPoolExecutor(max_workers=1) as pool:
            f_adds = pool.submit(
                lambda: winners.join(
                    in_log, "doc_id", "left_anti"
                ).localCheckpoint()
            )
            resurrect = winners.join(
                F.broadcast(dead_log), "doc_id", "left_semi"
            ).localCheckpoint()
            adds_append = f_adds.result()
        is_bench = (F.col("source") == m["bench_source"]).cast("bigint")
        # one fused job over the three checkpointed frames; resurrect
        # rows carry their own tag so the return-value count below
        # needs no extra job
        ar_rows = {
            int(row["__add"]): row
            for row in adds_append.select(
                F.lit(1).alias("__add"), is_bench.alias("__b")
            )
            .unionByName(
                resurrect.select(F.lit(2).alias("__add"), is_bench.alias("__b"))
            )
            .unionByName(
                retracts_w.select(F.lit(0).alias("__add"), is_bench.alias("__b"))
            )
            .groupBy("__add")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("__b").alias("nb"))
            .collect()
        }

        def _cnt(side: int, field: str) -> int:
            row = ar_rows.get(side)
            return int(row[field] or 0) if row is not None else 0

        n_resurrected = _cnt(2, "n")
        n_adds, n_retracts = _cnt(1, "n") + n_resurrected, _cnt(0, "n")
        bench_delta = _cnt(1, "nb") + _cnt(2, "nb") - _cnt(0, "nb")
        n_working_new = int(m["n_working"]) - n_retracts + n_adds

        # ---- decontamination: the mirror image of update's arrival
        #      machinery — retracted canonicals leave, elected/
        #      resurrected canonicals enter, dfs move BOTH ways
        g_all = spark.read.schema(_GRAM_SCHEMA).parquet(f"{p}/grams")
        if repair:
            # gram rows keyed by an appended winner can only be a
            # crashed attempt's (those docs were never in the log) —
            # purge them from the read; resurrected docs' rows are
            # committed history and stay
            g_all = g_all.join(
                F.broadcast(
                    adds_append.select(F.col("doc_id").alias("id"))
                ),
                "id",
                "left_anti",
            )
        g_old_live = g_all.join(
            dead_log.withColumnRenamed("doc_id", "id"), "id", "left_anti"
        )
        retr_ids = retracts_w.select(F.col("doc_id").alias("id"))
        no_retracts = n_retracts == 0
        g_after = (
            g_old_live
            if no_retracts
            else g_old_live.join(F.broadcast(retr_ids), "id", "left_anti")
        )
        g_add_new = self._gram_frame(adds_append).localCheckpoint(eager=False)
        g_res = g_all.join(
            F.broadcast(resurrect.select(F.col("doc_id").alias("id"))),
            "id",
            "left_semi",
        )
        g_add_mine = g_add_new.unionByName(g_res).localCheckpoint(eager=False)
        g_new = g_after.unionByName(g_add_mine)
        cap_old = _df_cap(m["max_df"], m["max_df_frac"], max(int(m["n_working"]), 1))
        cap_new = _df_cap(m["max_df"], m["max_df_frac"], max(n_working_new, 1))
        stored = self.contamination()
        stored_ids = stored.select(F.col("train_id").alias("id")).unionByName(
            stored.select(F.col("bench_id").alias("id"))
        )
        g_ret = (
            None
            if no_retracts
            else g_old_live.join(F.broadcast(retr_ids), "id", "left_semi")
        )
        ch_add = g_add_mine.groupBy("g").agg(F.count(F.lit(1)).alias("ca"))
        if cap_new == cap_old:
            restricted = g_add_mine.select("g")
            if g_ret is not None:
                restricted = restricted.unionByName(g_ret.select("g"))
            restricted = (
                restricted.unionByName(
                    g_new.join(
                        F.broadcast(stored_ids), "id", "left_semi"
                    ).select("g")
                )
                .distinct()
                .localCheckpoint()
            )
            df_old = (
                g_old_live.join(F.broadcast(restricted), "g", "left_semi")
                .groupBy("g")
                .agg(F.count(F.lit(1)).alias("df_o"))
            )
        else:
            df_old = g_old_live.groupBy("g").agg(
                F.count(F.lit(1)).alias("df_o")
            )
        df_new = df_old.join(ch_add, "g", "full")
        if g_ret is not None:
            ch_ret = g_ret.groupBy("g").agg(F.count(F.lit(1)).alias("cr"))
            df_new = df_new.join(ch_ret, "g", "full")
        df_new = (
            df_new.select(
                "g",
                "df_o",
                (
                    F.coalesce("df_o", F.lit(0))
                    + F.coalesce("ca", F.lit(0))
                    - (
                        F.lit(0)
                        if no_retracts
                        else F.coalesce("cr", F.lit(0))
                    )
                ).alias("df_n"),
            )
            .filter(F.col("df_n") > 0)
            .localCheckpoint()
        )
        allowed = df_new.filter(F.col("df_n") <= cap_new).select("g")
        # retraction's common case IS the flip case (dfs shrink), so
        # the full-posting re-mine branch stays on unless provably
        # impossible (no retracts, same cap — then dfs only grew)
        no_flips = no_retracts and cap_new == cap_old
        ga = g_add_mine.join(F.broadcast(allowed), "g", "left_semi")
        gn_allowed = g_new.join(F.broadcast(allowed), "g", "left_semi")
        cand_delta = (
            ga.alias("a")
            .join(gn_allowed.alias("b"), "g")
            .filter(F.col("a.id") != F.col("b.id"))
            .select(
                F.least("a.id", "b.id").alias("id_a"),
                F.greatest("a.id", "b.id").alias("id_b"),
            )
            .distinct()
        )
        if no_flips:
            cand = cand_delta
        else:
            flipped = df_new.filter(
                (F.col("df_n") <= cap_new) & (F.col("df_o") > cap_old)
            ).select("g")
            postings_f = (
                g_new.join(F.broadcast(flipped), "g", "left_semi")
                .groupBy("g")
                .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            )
            cand = cand_delta.unionByName(T.posting_pairs(postings_f)).distinct()
        working_new = live.select("doc_id", "source", "text")
        if not no_retracts:
            working_new = working_new.join(
                F.broadcast(retracts_w.select("doc_id")), "doc_id", "left_anti"
            )
        working_new = working_new.unionByName(
            adds_append.select("doc_id", "source", "text")
        ).unionByName(resurrect.select("doc_id", "source", "text"))
        flags = working_new.select(
            F.col("doc_id").alias("id"),
            (F.col("source") == m["bench_source"]).alias("__b"),
        )
        mixed = (
            cand.join(
                flags.select(F.col("id").alias("id_a"), F.col("__b").alias("ba")),
                "id_a",
            )
            .join(
                flags.select(F.col("id").alias("id_b"), F.col("__b").alias("bb")),
                "id_b",
            )
            .filter(F.col("ba") != F.col("bb"))
            .drop("bb")
            # pinned for the same two-consumer reason as update's
            # mixed (gram-set pass + containment verify re-executed
            # the delta-mine DAG once each — round-12 job census)
            .localCheckpoint(eager=False)
        )
        pair_ids = mixed.select(F.col("id_a").alias("doc_id")).unionByName(
            mixed.select(F.col("id_b").alias("doc_id"))
        )
        sets = T.hashed_gram_sets(
            working_new.join(pair_ids, "doc_id", "left_semi"),
            "text",
            "doc_id",
            m["gram_n"],
            m.get("gram_hash_family", "md5"),
        ).localCheckpoint(eager=False)
        new_pairs = self._orient(
            T._containment_verified(mixed, sets, m["contain_threshold"])
        )
        stored_live = (
            stored
            if no_retracts
            else stored.join(
                F.broadcast(
                    retracts_w.select(F.col("doc_id").alias("train_id"))
                ),
                "train_id",
                "left_anti",
            ).join(
                F.broadcast(
                    retracts_w.select(F.col("doc_id").alias("bench_id"))
                ),
                "bench_id",
                "left_anti",
            )
        )
        # pinned: the x/y self-join reads it twice (same treatment as
        # update's g_stored — stored-pair-bounded rows)
        g_stored = gn_allowed.join(
            F.broadcast(stored_ids), "id", "left_semi"
        ).localCheckpoint(eager=False)
        reach = (
            stored_live.alias("s")
            .join(g_stored.alias("x"), F.col("s.train_id") == F.col("x.id"))
            .join(
                g_stored.alias("y"),
                (F.col("s.bench_id") == F.col("y.id"))
                & (F.col("x.g") == F.col("y.g")),
            )
            .select("s.train_id", "s.bench_id")
        )
        # unconditional pair-key dedup: a repair replay re-mines pairs
        # a crashed attempt's completed contam swap already stored,
        # and the flip re-mine regenerates stored old×old pairs —
        # containment is text-deterministic, so survivors are
        # value-identical
        contam_final = (
            stored_live.join(reach, ["train_id", "bench_id"], "left_semi")
            .unionByName(new_pairs)
            .dropDuplicates(["train_id", "bench_id"])
            .localCheckpoint(eager=False)
        )
        n_pairs_after = contam_final.count()

        # ---- the commit (see the protocol note in the docstring)
        if not repair:
            r.select(
                "doc_id", F.lit(n_r + 1).cast("bigint").alias("rseq")
            ).write.mode("append").parquet(led_path)
        idx.retract_saved(f"{p}/index")

        def _guarded(delta: DataFrame, sub: str, keys: list[str], on: DataFrame) -> None:
            if repair:
                # the USING-column anti-join promotes keys to the
                # front — restore the delta's column order so every
                # file in the log shares one layout
                delta = (
                    delta.join(on.select(*keys), keys, "left_anti")
                    .select(*delta.columns)
                    .localCheckpoint()
                )
            delta.write.mode("append").parquet(f"{p}/{sub}")

        tomb_rows = retracts_w.select(
            "doc_id",
            F.lit(stamp).cast("bigint").alias("src_max_id"),
            F.lit(n_r + 1).cast("bigint").alias("rseq"),
            F.lit(False).alias("res"),
        ).unionByName(
            resurrect.select(
                "doc_id",
                F.lit(stamp).cast("bigint").alias("src_max_id"),
                F.lit(n_r + 1).cast("bigint").alias("rseq"),
                F.lit(True).alias("res"),
            )
        )
        from concurrent.futures import ThreadPoolExecutor

        writes = (
            lambda: _guarded(
                adds_append.select(
                    "doc_id", "source", "text",
                    F.lit(n_r + 1).cast("bigint").alias("src_rseq"),
                ),
                "working",
                ["doc_id"],
                self._working_log(),
            ),
            lambda: _guarded(
                tomb_rows, "tombstones", ["doc_id", "rseq", "res"],
                self._tombstones(),
            ),
            lambda: _guarded(
                g_add_new, "grams", ["id", "g"],
                spark.read.schema(_GRAM_SCHEMA).parquet(f"{p}/grams"),
            ),
            lambda: storage.rewrite_parquet_dir(
                spark, f"{p}/contam", contam_final, 1 << 20,
                n_rows=n_pairs_after,
            ),
        )
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            for fut in [pool.submit(w) for w in writes]:
                fut.result()
        m["n_retractions"] = n_r + 1
        m["n_working"] = int(n_working_new)
        m["n_bench"] = int(m["n_bench"] + bench_delta)
        self._append_manifest("retract")
        self._write_meta()
        return {
            "retracted": int(n_ids),
            "working_retracts": n_retracts,
            "working_adds": n_adds,
            "resurrected": int(n_resurrected),
            "contam_pairs": int(n_pairs_after),
            "n_working": int(n_working_new),
        }
