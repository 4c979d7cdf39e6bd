"""One-call state maintenance across every persisted index family.

Production runs ONE nightly maintenance job, not four: a deployment
holding a :class:`incremental.CurationState`, standalone
:class:`textops.DedupIndex` / :class:`textops.RepeatIndex` /
:class:`vectorops.VectorIndex` / :class:`multimodal.MediaIndex`
directories wants a single ``vacuum(paths)`` that (1) probes each
state's cross-substrate integrity invariants — the post-crash triage
every family's non-atomic update seam needs — and (2) applies the
read-amplification compaction policy (compact when some substrate has
accumulated more than a threshold of data files; file count grows with
UPDATE count, not data, so this is the steady-state knob), returning
one report frame (VERDICT r7 #5).

Family detection is structural (which stage directories exist under
the path), so the caller passes bare paths — the same way a table
catalog enumerates its tables without knowing their schemas.

The integrity probes for the standalone families mirror
``CurationState.check``'s design: each invariant is ONE small
aggregate over stored stages only (no corpus access — a loaded index
may not have one), violations come back as named nonzero counters,
and an absent stage is REPORTED (``stage_missing_*``), never crashed
on. The meta-vs-disk high-water-mark probe doubles as the torn-append
detector the streaming absorbers guard against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import storage
from . import textops as T

_FAMILY_MARKERS = (
    # ordered most-specific first: a CurationState contains a nested
    # DedupIndex under index/, so its own markers must win
    ("CurationState", ("working", "grams", "indexed")),
    ("RepeatIndex", ("postings", "spans")),
    ("VectorIndex", ("corpus_lists", "codes")),
    ("MediaIndex", ("phash", "clusters")),
    ("DedupIndex", ("pairs",)),
    ("TrigramLM", ("counts",)),
)


def detect_family(path: str) -> str | None:
    """Structural family detection by stage directories; None when the
    path holds no recognizable index state. A marker directory caught
    mid-rename-swap (no live dir, but a ``.__old__`` / ``.__compact__``
    complete copy beside it) still counts as present — the nightly
    sweep must recognize a crashed state so its probe REPORTS the
    missing substrate, not shrug it off as unknown."""
    def present(m: str) -> bool:
        return any(
            storage.parquet_dir_exists(f"{path}/{m}{suffix}")
            for suffix in (
                "", ".__old__", ".__compact__",
                # a VectorIndex coarse-quantizer retrain caught between
                # its per-stage renames leaves the live dir missing with
                # these complete copies beside it — still the family
                ".__retrain__", ".__retrain_old__",
            )
        )

    # the meta's own control-plane swap has the same between-renames
    # window as any substrate — a surviving .__old__ still identifies
    # the family (the sweep's recovery path renames it back)
    if not present("meta"):
        return None

    for family, markers in _FAMILY_MARKERS:
        if all(present(m) for m in markers):
            return family
    return None


def _bad(v: dict, name: str, n: int) -> None:
    if n:
        v[name] = int(n)


def _schema_probe(v: dict, path: str, stages) -> None:
    """``mixed_schema_<stage>`` = the number of distinct file schemas of
    a stage directory holding more than one. Reads pin the FIRST
    file's schema, so a mixed directory silently drops or misreads the
    other files' columns; the footer pass sees every file's schema."""
    for stage in stages:
        st = storage.footer_stats(f"{path}/{stage}")
        if st is not None and st.mixed:
            _bad(v, f"mixed_schema_{stage}", len(st.schemas))


def check_dedup_index(spark: SparkSession, path: str) -> dict:
    """Integrity probe over a saved :class:`textops.DedupIndex`
    WITHOUT its corpus: verified ⊆ pairs, pair endpoints ⊆ banded
    ids, verified-cluster labels name verified endpoints only. Each
    check engages only when its stages exist (stage-subset saves are
    legitimate — ``save(stages=...)``); a pairs directory with no
    verified sibling is reported, because every full save writes
    both. With a retraction ledger present, the cross-stage checks run
    over the LIVE view (rows minus committed tombstones) — the
    invariant that holds before, during, and after compact()'s
    physical resolution; uncommitted ledger rows are themselves
    reported (the torn-retraction signal)."""
    v: dict[str, int] = {}
    _schema_probe(v, path, T.DedupIndex._STAGES + ("retracted",))
    has = {
        s: storage.parquet_dir_exists(f"{path}/{s}") for s in T.DedupIndex._STAGES
    }
    tombs = None
    if storage.parquet_dir_exists(f"{path}/retracted"):
        n_retr = 0
        if storage.parquet_dir_exists(f"{path}/meta"):
            n_retr = int(
                storage.read_control_row(f"{path}/meta").get("n_retractions") or 0
            )
        led = storage.read_parquet_pinned(spark, f"{path}/retracted")
        _bad(
            v,
            "uncommitted_ledger_rows",
            led.filter(F.col("rseq") > n_retr).count(),
        )
        t = led.filter(F.col("rseq") <= n_retr).select("id").distinct()
        if t.first() is not None:
            tombs = t

    def _live(df, *cols):
        if tombs is None or df is None:
            return df
        for c in cols:
            df = df.join(
                F.broadcast(tombs.withColumnRenamed("id", c)), c, "left_anti"
            )
        return df

    pairs = (
        _live(
            storage.read_parquet_pinned(spark, f"{path}/pairs"), "id_a", "id_b"
        )
        if has["pairs"]
        else None
    )
    if has["pairs"] and not has["verified"]:
        # every full save writes verified beside pairs, so its absence
        # next to a pairs directory is a torn save regardless of
        # whether verified_clusters made it to disk
        _bad(v, "stage_missing_verified", 1)
    if has["verified"] and pairs is not None:
        verified = _live(
            storage.read_parquet_pinned(spark, f"{path}/verified"), "id_a", "id_b"
        )
        _bad(
            v,
            "verified_not_in_pairs",
            verified.select("id_a", "id_b")
            .join(pairs, ["id_a", "id_b"], "left_anti")
            .count(),
        )
    if has["bands"] and pairs is not None:
        b_ids = _live(
            storage.read_parquet_pinned(spark, f"{path}/bands"), "id"
        ).select(F.col("id").alias("id_a"))
        ends = pairs.select("id_a").unionByName(
            pairs.select(F.col("id_b").alias("id_a"))
        )
        _bad(v, "pair_endpoint_not_banded", ends.join(b_ids, "id_a", "left_anti").count())
    if has["verified_clusters"]:
        if not has["verified"]:
            _bad(v, "stage_missing_verified", 1)
        else:
            verified = _live(
                storage.read_parquet_pinned(spark, f"{path}/verified"), "id_a", "id_b"
            )
            vc_ids = storage.read_parquet_pinned(
                spark, f"{path}/verified_clusters"
            ).select("id")
            v_ids = verified.select(F.col("id_a").alias("id")).unionByName(
                verified.select(F.col("id_b").alias("id"))
            )
            _bad(
                v,
                "verified_cluster_orphans",
                vc_ids.join(v_ids, "id", "left_anti").count(),
            )
    return {"ok": not v, "violations": v}


def check_vector_index(
    spark: SparkSession, path: str, *, degenerate_list_frac: float = 0.5
) -> dict:
    """Integrity probe over a saved :class:`vectorops.VectorIndex`:
    unique corpus ids, exactly m code rows per corpus vector, no code
    rows for unknown ids, the meta high-water mark covering the
    on-disk max id (rows above the stamp = the torn-append state the
    streamed absorber refuses), and — round 9, from the adversarial
    skew measurement (SCALE.md) — coarse-assignment HEALTH: one list
    holding more than ``degenerate_list_frac`` of a multi-list corpus
    means the coarse quantizer has degenerated (nprobe stops pruning;
    every probe scans ~the corpus). The serving plan survives this
    structurally (the probe fan is broadcast — no skewed shuffle key,
    measured linear under a 95%-one-list adversary), but the cost
    target is gone; a size CAP here would silently drop corpus
    vectors from serving (a recall hole), so the probe REPORTS and
    the fix is the standard serving-stack one — retrain the coarse
    quantizer (rebuild), FAISS's reindex guidance.

    With a :meth:`~vectorops.VectorIndex.retract` tombstone log
    present, the row-consistency probes run over the LIVE view (rows
    minus tombstones) — the invariant that holds in EVERY legitimate
    state of the retraction lifecycle, including each of compact()'s
    crash windows (pre-compact both sides carry the dead rows;
    mid-compact one side does; post-compact neither — the live view is
    identical throughout)."""
    from .vectorops import VectorIndex

    v: dict[str, int] = {}
    if storage.parquet_dir_exists(f"{path}/{VectorIndex._RETRAIN_MARKER}"):
        # a committed-but-unfinished coarse retrain: stages may span
        # two quantizer generations, so cross-stage probes over the
        # mix would be meaningless — report the torn state (the repair
        # is repair_torn_retrain / vacuum(recover_swaps=True))
        _bad(v, "retrain_pending", 1)
        return {"ok": False, "violations": v}
    missing = [
        s for s in VectorIndex._STAGES if not storage.parquet_dir_exists(f"{path}/{s}")
    ]
    for s in missing:
        _bad(v, f"stage_missing_{s}", 1)
    if missing:
        return {"ok": False, "violations": v}
    _schema_probe(
        v, path, VectorIndex._STAGES + VectorIndex._REFINE_STAGES + ("tombstones",)
    )
    m = storage.read_control_row(f"{path}/meta")
    lists = storage.read_parquet_pinned(spark, f"{path}/corpus_lists")
    codes = storage.read_parquet_pinned(spark, f"{path}/codes")
    # every invariant from ONE pass: lists, codes and tombstone rows
    # keyed by id, folded per id and then per coarse list. A null id
    # never matches a tombstone or a list row (the anti-join semantics
    # of the live view), so it is always live and its codes orphaned.
    null_id = F.col("id").isNull()
    no_bucket = F.lit(None).cast(lists.schema["bucket"].dataType).alias("bucket")
    rows = lists.select(
        "id", "bucket", F.lit(1).alias("l"), F.lit(0).alias("k"),
        F.lit(0).alias("t"),
    ).unionByName(codes.select(
        F.col("neighbor_id").alias("id"), no_bucket,
        F.lit(0).alias("l"), F.lit(1).alias("k"), F.lit(0).alias("t"),
    ))
    tomb_dir = f"{path}/tombstones"
    if storage.parquet_dir_exists(tomb_dir):
        st = storage.footer_stats(tomb_dir)
        if st is None or st.rows:
            tombs = storage.read_parquet_pinned(spark, tomb_dir)
            rows = rows.unionByName(tombs.select(
                "id", no_bucket,
                F.lit(0).alias("l"), F.lit(0).alias("k"), F.lit(1).alias("t"),
            ))
    per_id = rows.groupBy("id").agg(
        F.sum("l").alias("nl"), F.sum("k").alias("nc"),
        F.max("t").alias("dead"), F.min("bucket").alias("b"),
    ).withColumn("live", (F.col("dead") == 0) | null_id)
    per_list = per_id.groupBy("b").agg(
        F.sum("nl").alias("n"),
        F.sum((F.col("nl") > 1).cast("bigint")).alias("dup"),
        F.sum(F.when(F.col("live"), F.col("nl"))).alias("n_live"),
        F.sum(F.when(F.col("live"), F.col("nc"))).alias("n_codes"),
        F.sum(
            F.when(F.col("live") & ((F.col("nl") == 0) | null_id), F.col("nc"))
        ).alias("orphans"),
        F.max(F.when(F.col("nl") > 0, F.col("id"))).alias("hi"),
    ).collect()
    total = {
        c: sum(int(r[c] or 0) for r in per_list)
        for c in ("n", "dup", "n_live", "n_codes", "orphans")
    }
    his = [r["hi"] for r in per_list if r["hi"] is not None]
    hi = max(his) if his else None
    _bad(v, "duplicate_corpus_ids", total["dup"])
    _bad(v, "code_row_drift", abs(total["n_codes"] - total["n_live"] * int(m["m"])))
    _bad(v, "code_orphans", total["orphans"])
    stamp = m.get("max_id")
    if hi is not None and stamp is not None and int(hi) > int(stamp):
        _bad(v, "rows_beyond_max_id_stamp", 1)
    if total["dup"]:
        # a duplicated id may sit in two lists: count raw rows per list
        sizes = [
            r[0] for r in lists.groupBy("bucket").count().select("count").collect()
        ]
    else:
        sizes = [int(r["n"] or 0) for r in per_list]
    mx = max(sizes, default=0)
    if total["n"] > 1 and mx > degenerate_list_frac * total["n"]:
        # round 10: no `nl > 1` guard — a multi-vector corpus collapsed
        # into ONE surviving list is the degenerate condition at its
        # worst (nprobe cannot prune at all), and it is exactly the
        # state an honest retrain leaves a point-mass corpus in; the
        # probe must keep reporting it rather than treat single-list
        # as intentional
        _bad(v, "coarse_assignment_degenerate", 1)
    return {"ok": not v, "violations": v}


def check_repeat_index(spark: SparkSession, path: str) -> dict:
    """Integrity probe over a saved :class:`textops.RepeatIndex`:
    postings/span ids within the indexed high-water mark, span
    generations within the update count (a higher gen would shadow
    rows no update wrote), and a doc with spans but no postings (span
    stats derive from gram postings, so that state is torn)."""
    v: dict[str, int] = {}
    missing = [
        s
        for s in ("postings", "spans")
        if not storage.parquet_dir_exists(f"{path}/{s}")
    ]
    for s in missing:
        _bad(v, f"stage_missing_{s}", 1)
    if missing:
        return {"ok": False, "violations": v}
    _schema_probe(v, path, ("postings", "spans", "retracted", "gram_counts"))
    m = storage.read_control_row(f"{path}/meta")
    postings = storage.read_parquet_pinned(spark, f"{path}/postings")
    spans = storage.read_parquet_pinned(spark, f"{path}/spans")
    hi = int(m["max_doc_id"])
    _bad(v, "postings_beyond_max_doc", postings.filter(F.col("id") > hi).count())
    _bad(v, "spans_beyond_max_doc", spans.filter(F.col("id") > hi).count())
    _bad(
        v,
        "span_gen_beyond_updates",
        spans.filter(F.col("gen") > int(m["n_updates"])).count(),
    )
    _bad(
        v,
        "span_without_postings",
        spans.select("id")
        .join(postings.select("id"), "id", "left_anti")
        .count(),
    )
    if storage.parquet_dir_exists(f"{path}/retracted"):
        n_retr = int(m.get("n_retractions") or 0)
        led = storage.read_parquet_pinned(spark, f"{path}/retracted")
        _bad(
            v,
            "uncommitted_ledger_rows",
            led.filter(F.col("rseq") > n_retr).count(),
        )
        _bad(
            v,
            "retracted_id_beyond_max_doc",
            led.filter(
                (F.col("rseq") <= n_retr) & (F.col("id") > hi)
            ).count(),
        )
    if (
        m.get("counts_seg") is not None
        and storage.parquet_dir_exists(f"{path}/gram_counts")
    ):
        # counts-substrate probes (round 10): structural invariants as
        # one aggregate each; a full recount equals a postings scan —
        # exactly what the substrate exists to avoid — so staleness is
        # guarded by compact's invalidate/validate meta protocol, not
        # the nightly probe
        gc = storage.read_parquet_pinned(spark, f"{path}/gram_counts")
        row = gc.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("g").alias("d"),
            F.sum((F.col("c") <= 0).cast("bigint")).alias("bad"),
        ).first()
        _bad(v, "duplicate_count_grams", int(row["n"]) - int(row["d"]))
        _bad(v, "nonpositive_gram_counts", int(row["bad"] or 0))
        _bad(
            v,
            "postings_seg_beyond_updates",
            spark.read.schema(
                "g string, id bigint, seg bigint"
            ).parquet(f"{path}/postings")
            .filter(F.col("seg") > int(m["n_updates"]))
            .count(),
        )
    return {"ok": not v, "violations": v}


def check_media_index(spark: SparkSession, path: str) -> dict:
    """Integrity probe over a saved :class:`multimodal.MediaIndex`:
    unique hash rows, pair endpoints ⊆ hashed ids, stored Hamming
    within the mining radius, cluster labels naming pair endpoints
    only, and the meta high-water mark covering the on-disk max id."""
    from .multimodal import MediaIndex

    v: dict[str, int] = {}
    missing = [
        s for s in MediaIndex._STAGES if not storage.parquet_dir_exists(f"{path}/{s}")
    ]
    for s in missing:
        _bad(v, f"stage_missing_{s}", 1)
    if missing:
        return {"ok": False, "violations": v}
    _schema_probe(v, path, MediaIndex._STAGES + ("retracted",))
    m = storage.read_control_row(f"{path}/meta")
    ph = storage.read_parquet_pinned(spark, f"{path}/phash")
    pairs = storage.read_parquet_pinned(spark, f"{path}/pairs")
    clusters = storage.read_parquet_pinned(spark, f"{path}/clusters")
    if storage.parquet_dir_exists(f"{path}/retracted"):
        # cross-stage checks run over the LIVE view (rows minus
        # committed tombstones) — consistent before, during, and after
        # compact()'s physical resolution; uncommitted ledger rows are
        # the torn-retraction signal
        n_retr = int(m.get("n_retractions") or 0)
        led = storage.read_parquet_pinned(spark, f"{path}/retracted")
        _bad(
            v,
            "uncommitted_ledger_rows",
            led.filter(F.col("rseq") > n_retr).count(),
        )
        t = led.filter(F.col("rseq") <= n_retr).select("id").distinct()
        if t.first() is not None:
            ph = ph.join(
                F.broadcast(t.withColumnRenamed("id", "media_id")),
                "media_id",
                "left_anti",
            )
            pairs = pairs.join(
                F.broadcast(t.withColumnRenamed("id", "id_a")),
                "id_a",
                "left_anti",
            ).join(
                F.broadcast(t.withColumnRenamed("id", "id_b")),
                "id_b",
                "left_anti",
            )
    _bad(
        v,
        "duplicate_phash_ids",
        ph.groupBy("media_id").count().filter(F.col("count") > 1).count(),
    )
    ends = pairs.select(F.col("id_a").alias("media_id")).unionByName(
        pairs.select(F.col("id_b").alias("media_id"))
    )
    _bad(
        v,
        "pair_endpoint_unhashed",
        ends.join(ph.select("media_id"), "media_id", "left_anti").count(),
    )
    _bad(
        v,
        "hamming_over_radius",
        pairs.filter(F.col("hamming") > int(m["max_hamming"])).count(),
    )
    _bad(
        v,
        "cluster_orphans",
        clusters.select(F.col("id").alias("media_id"))
        .join(ends, "media_id", "left_anti")
        .count(),
    )
    row = ph.agg(F.max("media_id")).first()
    hi, stamp = row[0], m.get("max_id")
    if hi is not None and stamp is not None and int(hi) > int(stamp):
        _bad(v, "rows_beyond_max_id_stamp", 1)
    return {"ok": not v, "violations": v}


def check_trigram_lm(spark: SparkSession, path: str) -> dict:
    """Integrity probe over a saved :class:`textops.TrigramLM`: the
    count log is THE model, so its invariants are the model's —
    non-empty vocabulary, no null grams, segment-sign discipline
    (positive/base segments carry positive counts, retraction
    segments negative ones), one count row per (gram, segment), no
    segment rows beyond either commit stamp (the id high-water mark
    for updates, the retraction sequence for retractions — uncommitted
    rows from a crash between a segment append and its meta commit;
    replay the delta to repair), no NEGATIVE merged committed count
    (the double-subtraction signature), and ledger rows within the
    committed retraction sequence."""
    v: dict[str, int] = {}
    if not storage.parquet_dir_exists(f"{path}/counts"):
        _bad(v, "stage_missing_counts", 1)
        return {"ok": False, "violations": v}
    from .textops import TrigramLM

    _schema_probe(v, path, ("counts", "retracted"))
    counts = TrigramLM._raw_counts(spark, path)
    stamp, n_retr = None, 0
    if storage.parquet_dir_exists(f"{path}/meta"):
        m = storage.read_control_row(f"{path}/meta")
        stamp = m.get("max_id")
        n_retr = int(m.get("n_retractions") or 0)
    committed = (
        F.lit(True) if stamp is None else TrigramLM._committed_src(stamp, n_retr)
    )
    # every count-log invariant from one grouping by gram: the per-gram
    # row count against its distinct segments (duplicate rows; a
    # pre-segmented model's all-null src needs a sentinel below any
    # real retraction sequence), the sign discipline, the stamps, and
    # the merged committed count
    per_g = counts.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.size(
            F.collect_set(F.coalesce("src", F.lit(-(1 << 62))))
        ).alias("d"),
        F.sum(
            (
                (F.coalesce("src", F.lit(0)) >= 0) & (F.col("c") <= 0)
            ).cast("bigint")
        ).alias("bad_pos"),
        F.sum(
            ((F.col("src") < 0) & (F.col("c") >= 0)).cast("bigint")
        ).alias("bad_neg"),
        F.sum(
            (
                (F.col("src") > F.lit(stamp).cast("bigint"))
                | (F.col("src") < F.lit(-n_retr).cast("bigint"))
            ).cast("bigint")
        ).alias("unstamped"),
        F.sum(F.when(committed, F.col("c"))).alias("merged"),
    )
    row = per_g.agg(
        F.sum("n").alias("n"),
        # count(DISTINCT g, src) skips null grams
        F.sum(F.when(F.col("g").isNotNull(), F.col("d"))).alias("d"),
        F.sum("bad_pos").alias("bad_pos"),
        F.sum("bad_neg").alias("bad_neg"),
        F.sum(F.when(F.col("g").isNull(), F.col("n"))).alias("null_g"),
        F.sum("unstamped").alias("unstamped"),
        F.sum((F.col("merged") < 0).cast("bigint")).alias("neg_merged"),
    ).first()
    n = int(row["n"] or 0)
    if n == 0:
        _bad(v, "empty_vocabulary", 1)
    _bad(v, "nonpositive_counts", int(row["bad_pos"] or 0))
    _bad(v, "nonnegative_retraction_counts", int(row["bad_neg"] or 0))
    _bad(v, "null_grams", int(row["null_g"] or 0))
    _bad(v, "duplicate_gram_rows", n - int(row["d"] or 0))
    if stamp is not None:
        _bad(v, "uncommitted_segment_rows", int(row["unstamped"] or 0))
        if n_retr or storage.parquet_dir_exists(f"{path}/retracted"):
            _bad(v, "negative_merged_counts", int(row["neg_merged"] or 0))
    led_path = f"{path}/retracted"
    if storage.parquet_dir_exists(led_path):
        # the footers prove both ledger probes zero in a healthy state;
        # count exactly only when they cannot
        b = storage.footer_stats(led_path, ["rseq", "id"])
        if b is None or (b.hi["rseq"] is not None and b.hi["rseq"] > n_retr) or (
            stamp is not None and b.hi["id"] is not None and b.hi["id"] > int(stamp)
        ):
            led = storage.read_parquet_pinned(spark, led_path)
            beyond = (F.col("rseq") <= n_retr) & (
                F.col("id") > F.lit(stamp).cast("bigint")
            )
            lr = led.agg(
                F.sum((F.col("rseq") > n_retr).cast("bigint")).alias("unc"),
                F.sum(beyond.cast("bigint")).alias("beyond"),
            ).first()
            _bad(v, "uncommitted_ledger_rows", int(lr["unc"] or 0))
            if stamp is not None:
                _bad(v, "retracted_id_beyond_stamp", int(lr["beyond"] or 0))
    return {"ok": not v, "violations": v}


def _check_curation_state(spark: SparkSession, path: str) -> dict:
    from .incremental import CurationState

    # cooccupancy replays the band self-join (pair-mining cost class)
    # — the nightly sweep keeps the cheap aggregates; run the full
    # probe manually when triage demands it
    return CurationState.load(spark, path).check(cooccupancy=False)


_CHECKS = {
    "CurationState": _check_curation_state,
    "DedupIndex": check_dedup_index,
    "RepeatIndex": check_repeat_index,
    "VectorIndex": check_vector_index,
    "MediaIndex": check_media_index,
    "TrigramLM": check_trigram_lm,
}


def _purge_torn_retraction(
    spark: SparkSession, path: str, family: str
) -> bool:
    """Restore the exact pre-retract state after a retraction whose
    writer died PERMANENTLY: purge the uncommitted ledger rows and
    every derived write the torn attempt may have landed, re-deriving
    the wholesale-overwritten label stages from the committed edge
    sets (the torn overwrite itself cannot be trusted — the
    drop-don't-trust rule). Caller must hold the directory lease: that
    is what guarantees no retraction is concurrently in flight, making
    an uncommitted ledger row definitively ABANDONED rather than
    mid-protocol. The lost retraction was never acknowledged upstream
    (its meta commit is what acknowledges), so an at-least-once
    deletion feed re-sends it. Returns True when something was purged."""
    from .textops import DedupIndex, TrigramLM

    led_path = f"{path}/retracted"
    if family == "CurationState":
        return _complete_torn_pipeline_retraction(spark, path)
    if family not in (
        "DedupIndex", "MediaIndex", "RepeatIndex", "TrigramLM"
    ) or not storage.parquet_dir_exists(led_path):
        # VectorIndex's single-append protocol has no uncommitted
        # representation
        return False
    if not storage.parquet_dir_exists(f"{path}/meta"):
        # the meta is mid-swap (or the state is torn beyond this
        # repair's scope) — report-only sweeps must not crash here;
        # recover_swaps renames the meta back first
        return False
    m = storage.read_control_row(f"{path}/meta")
    n_r = int(m.get("n_retractions") or 0)
    led = storage.read_parquet_pinned(spark, led_path)
    if not led.filter(F.col("rseq") > n_r).limit(1).count():
        return False
    # ORDER: repair every derived write the torn attempt may have
    # landed FIRST, and rewrite the ledger to its committed subset
    # LAST — the ledger purge is this rollback's commit point. The
    # uncommitted ledger rows are the ONLY signal that torn derived
    # state exists; purging them first would erase that signal, so a
    # crash in between would leave torn labels/orphan generations
    # served silently forever. With repair-first, a crash before the
    # final purge leaves the uncommitted rows in place and the next
    # sweep (or the writer's own replay) re-runs the idempotent
    # repair.
    if family == "TrigramLM":
        raw = TrigramLM._raw_counts(spark, path)
        storage.rewrite_parquet_dir(
            spark,
            f"{path}/counts",
            raw.filter(
                F.col("src").isNull() | (F.col("src") >= -n_r)
            ),
            1 << 20,
        )
    elif family == "RepeatIndex":
        # a torn UPDATE cannot coexist here: update() refuses to run
        # over uncommitted ledger rows, and retract() purges its own
        # span generations before re-landing — so every gen beyond the
        # committed counter belongs to the abandoned retraction
        n_u = int(m["n_updates"])
        storage.rewrite_parquet_dir(
            spark,
            f"{path}/spans",
            storage.read_parquet_pinned(spark, f"{path}/spans").filter(
                F.col("gen") <= n_u
            ),
            1 << 20,
        )
    else:
        # cluster families: monotone stages were never touched by the
        # torn attempt, but the label overwrites may have landed
        # (possibly torn themselves) — re-derive from the
        # committed-filtered edges (load() filters the stages by
        # rseq <= meta's committed counter, so the uncommitted ledger
        # rows still on disk do not leak into the repair)
        idx = (
            DedupIndex.load(spark, path)
            if family == "DedupIndex"
            else __import__(
                "lp_etl_plugins_spark.multimodal", fromlist=["MediaIndex"]
            ).MediaIndex.load(spark, path)
        )
        from .textops import connected_components

        if family == "DedupIndex":
            for stage, edges in (
                ("clusters", idx._pairs),
                ("verified_clusters", idx._verified),
            ):
                if edges is not None and storage.parquet_dir_exists(
                    f"{path}/{stage}"
                ):
                    lbl = connected_components(
                        edges.select("id_a", "id_b")
                    ).localCheckpoint()
                    lbl.write.mode("overwrite").parquet(f"{path}/{stage}")
        else:
            if idx._pairs is not None:
                lbl = connected_components(
                    idx._pairs.select("id_a", "id_b")
                ).localCheckpoint()
                lbl.write.mode("overwrite").parquet(f"{path}/clusters")
    storage.rewrite_parquet_dir(
        spark, led_path, led.filter(F.col("rseq") <= n_r), 1 << 20
    )
    return True


def _complete_torn_pipeline_retraction(spark: SparkSession, path: str) -> bool:
    """The CurationState member of the torn-retraction repair — and
    deliberately the OPPOSITE direction from the standalone families:
    it rolls the abandoned retraction FORWARD (replays it) instead of
    back. Two reasons. First, the root ledger's uncommitted rows
    preserve the full intent (the exact ids), so the sweep CAN finish
    the job — ``CurationState.retract``'s same-ids replay converges
    from any crash prefix; the family ledgers also hold ids, but
    their documented contract is that the never-acknowledged deletion
    is re-sent by the at-least-once feed, and rollback restores the
    exact pre-retract state the feed expects. Second, rollback is not
    even WELL-DEFINED here: the embedded DedupIndex's own retraction
    may have already committed (its meta bumped), and un-retracting a
    committed index retraction would violate that family's
    retracted-ids-stay-dead contract. Deletion is the one lifecycle
    op where completing is always the safe repair — a takedown must
    converge to DELETED. Caller holds the root lease; the replay's
    inner index lease is a distinct scope."""
    from .incremental import CurationState
    led_path = f"{path}/retracted"
    if not storage.parquet_dir_exists(led_path) or not storage.parquet_dir_exists(
        f"{path}/meta"
    ):
        return False
    st = CurationState.load(spark, path)
    n_r = int(st.meta.get("n_retractions") or 0)
    unc = (
        storage.read_parquet_pinned(spark, led_path)
        .filter(F.col("rseq") > n_r)
        .select("doc_id")
        .distinct()
        .localCheckpoint()
    )
    if unc.first() is None:
        return False
    st._retract_unfenced(unc)  # the same-ids replay — caller holds
    # the root lease, so the fenced entry would self-deadlock
    return True


def _stage_candidates(path: str, family: str) -> list[str]:
    """Every directory the family's lifecycle can swap via
    rename-aside — stage dirs plus the control-plane metas — whether
    or not it currently exists (the recovery sweep needs the MISSING
    ones)."""
    metas = ["meta"]
    if family == "CurationState":
        metas.append("index/meta")
    return [d for d in _stage_dirs(path, family, existing_only=False)] + [
        f"{path}/{m}" for m in metas
    ]


def _stage_dirs(path: str, family: str, existing_only: bool = True) -> list[str]:
    if family == "CurationState":
        subs = ("indexed", "hashes", "working", "tombstones", "grams",
                "contam", "retracted", "index/bands", "index/pairs",
                "index/verified", "index/verified_clusters",
                "index/retracted")
    elif family == "DedupIndex":
        from .textops import DedupIndex

        subs = DedupIndex._STAGES + ("retracted",)
    elif family == "RepeatIndex":
        subs = ("postings", "spans", "retracted", "gram_counts")
    elif family == "TrigramLM":
        subs = ("counts", "retracted")
    elif family == "VectorIndex":
        from .vectorops import VectorIndex

        subs = (
            VectorIndex._STAGES
            + VectorIndex._REFINE_STAGES
            + ("tombstones",)
        )
    else:
        from .multimodal import MediaIndex

        subs = MediaIndex._STAGES + ("retracted",)
    return [
        f"{path}/{s}"
        for s in subs
        if not existing_only or storage.parquet_dir_exists(f"{path}/{s}")
    ]


# The substrate each family's tombstone anti-join FILTERS (the live
# view's denominator), and the ledger directory that feeds it. The
# ratio ledger-rows / primary-rows is the scale-free "tombstone
# pressure" vacuum compacts on (scripts/retraction_read_amp.py is the
# measured curve behind the default threshold).
_TOMBSTONE_LEDGER = {
    "CurationState": ("retracted", "indexed"),
    "DedupIndex": ("retracted", "clusters"),
    "RepeatIndex": ("retracted", "spans"),
    "TrigramLM": ("retracted", "counts"),
    "VectorIndex": ("tombstones", "corpus_lists"),
    "MediaIndex": ("retracted", "phash"),
}


def _tombstone_pressure(
    spark: SparkSession, path: str, family: str
) -> float | None:
    """Ledger rows as a fraction of the primary substrate's rows —
    None when the family has no ledger directory (the pay-for-play
    fast path: absence means the read plans carry no anti-join at
    all, so there is nothing to compact away)."""
    led, prim = _TOMBSTONE_LEDGER[family]
    led_path = f"{path}/{led}"
    if not storage.parquet_dir_exists(led_path):
        return None
    resolved = None
    if family != "VectorIndex":
        # these families RETAIN the ledger after compaction (it is
        # their replay-refusal / audit record); rows at or below the
        # compact-written resolution stamp are already folded into
        # the substrates and carry no per-read cost — count only the
        # unresolved tail, else the threshold re-fires forever on an
        # already-resolved ledger. The stamp is clamped to the meta's
        # committed counter so a stale stamp from a previous state
        # incarnation (sequence restart at save) can't hide live rows.
        resolved = 0
        if storage.parquet_dir_exists(f"{path}/retracted_resolved"):
            resolved = int(
                storage.read_control_row(f"{path}/retracted_resolved")[
                    "resolved_rseq"
                ]
                or 0
            )
        n_committed = int(
            storage.read_control_row(f"{path}/meta").get("n_retractions") or 0
        )
        resolved = min(resolved, n_committed)
    # footers: the ledger's row count, and proof that no row lies
    # above the resolution stamp; a Spark count only when they cannot
    st = storage.footer_stats(led_path, [] if resolved is None else ["rseq"])
    if st is None or (resolved is not None and (st.hi["rseq"] or 0) > resolved):
        led_df = storage.read_parquet_pinned(spark, led_path)
        if resolved is not None:
            led_df = led_df.filter(F.col("rseq") > resolved)
        n_led = led_df.count()
    else:
        n_led = st.rows if resolved is None else 0
    if not n_led:
        return None
    if not storage.parquet_dir_exists(f"{path}/{prim}"):
        return None
    prim_path = f"{path}/{prim}"
    n_prim = storage.dir_stats(
        prim_path, storage.read_parquet_pinned(spark, prim_path)
    ).rows
    return n_led / max(n_prim, 1)


def _recover_family_swaps(path: str, family: str) -> int:
    """Perform the one-rename recovery for every substrate caught
    between a rename-aside swap's two renames (no live directory, a
    complete ``.__compact__``/``.__old__`` copy beside it) — the
    mechanical half of what the probes report as
    ``substrate_missing_*``. Idempotent; returns how many directories
    were recovered."""
    import os

    n = 0
    for d in _stage_candidates(path, family):
        local = storage.local_path(d)
        if not os.path.isdir(local) and (
            os.path.isdir(local + ".__compact__")
            or os.path.isdir(local + ".__old__")
        ):
            storage.recover_swapped_dir(d)
            n += 1
    return n


def _compact(spark: SparkSession, path: str, family: str, target: int) -> dict:
    if family == "CurationState":
        from .incremental import CurationState

        return CurationState.load(spark, path).compact(
            target_rows_per_file=target
        )
    if family == "DedupIndex":
        from .textops import DedupIndex

        return DedupIndex.compact(spark, path, target_rows_per_file=target)
    if family == "RepeatIndex":
        from .textops import RepeatIndex

        return RepeatIndex.load(spark, path).compact(
            target_rows_per_file=target
        )
    if family == "TrigramLM":
        from .textops import TrigramLM

        return TrigramLM.compact(spark, path, target_rows_per_file=target)
    if family == "VectorIndex":
        from .vectorops import VectorIndex

        return VectorIndex.compact(spark, path, target_rows_per_file=target)
    from .multimodal import MediaIndex

    return MediaIndex.compact(spark, path, target_rows_per_file=target)


_REPORT_SCHEMA = (
    "path string, family string, ok boolean, violations string, "
    "max_files_before int, compacted boolean, max_files_after int, "
    "recovered int"
)


def vacuum(
    spark: SparkSession,
    paths: list[str] | tuple[str, ...],
    *,
    max_files_per_substrate: int = 64,
    target_rows_per_file: int = 1 << 20,
    compact_unhealthy: bool = False,
    recover_swaps: bool = False,
    purge_torn_retractions: bool = False,
    retrain_degenerate=None,
    max_tombstone_frac: float | None = 0.25,
    lease_wait_seconds: float = 0.0,
) -> DataFrame:
    """The nightly maintenance sweep: for each path, detect the index
    family, run its integrity probe, and — when healthy and some
    substrate has accumulated more than ``max_files_per_substrate``
    data files — run its compaction (``CurationState.maybe_compact``'s
    threshold policy generalized to every family). An UNHEALTHY state
    is never compacted by default: compaction rewrites files, and a
    torn state should be repaired (or at least inspected) before its
    evidence is re-laid-out; pass ``compact_unhealthy=True`` to
    override in a disposable environment.

    ``recover_swaps=True`` (round 9) additionally PERFORMS the one
    mechanical repair the probes otherwise only report: a substrate
    caught between a rename-aside swap's two renames (no live
    directory, a complete copy beside it) is recovered with
    :func:`storage.recover_swapped_dir`'s single rename — under the
    directory lease, so a concurrent writer is never raced — and the
    probe re-runs over the recovered state. Only the unambiguous
    rename window is auto-repaired; torn APPENDS stay report-only
    (their repair needs the delta, which only the absorber's replay
    has). Default off so the report-only contract stays available for
    forensic sweeps.

    ``purge_torn_retractions=True`` (late round 9) performs the other
    mechanical repair: an ABANDONED torn retraction (uncommitted
    ledger rows whose writer died permanently — under the lease, no
    retraction can be concurrently mid-protocol) is rolled back to the
    exact pre-retract state (uncommitted ledger + derived rows purged,
    wholesale-overwritten label stages re-derived from the committed
    edges), and the probe re-runs. The lost deletion was never
    acknowledged (the meta commit is the acknowledgement), so an
    at-least-once deletion feed re-sends it. Default off: when the
    writer might merely be slow-crashed-and-restarting, its own replay
    is the cheaper repair.

    For a **CurationState** the same flag repairs in the OPPOSITE
    direction — it rolls the abandoned pipeline retraction FORWARD
    (replays it from the ids its root ledger preserved) rather than
    back, because the embedded index's own retraction may already
    have committed and cannot be un-retracted; see
    :func:`_complete_torn_pipeline_retraction`. A repair the replay
    itself refuses (e.g. a pending update marker that must replay
    first) is reported as ``torn_retraction_repair_refused``.

    ``retrain_degenerate`` (round 10) turns the vector family's
    ``coarse_assignment_degenerate`` report into an opt-in
    remediation: pass the corpus embeddings DataFrame (the saved
    artifacts never hold raw vectors — the serving contract — so only
    the caller can supply them) and a VectorIndex path whose probe
    flags degeneracy is retrained under the lease via
    :meth:`vectorops.VectorIndex.retrain_coarse` (balanced hash
    re-seed + Lloyd rounds, rebuild semantics, marker-fenced
    roll-forward swap), then re-probed. The report row gains
    ``retrained_coarse=1``; a corpus whose geometry is genuinely
    collapsed (a point-mass cloud no quantizer can split) re-probes
    degenerate and gains ``retrain_ineffective=1`` instead of a false
    health bill. Accepts either a dict ``{index_path: corpus_frame}``
    (the general form — each index retrains from ITS corpus) or a
    bare DataFrame, legal only when the sweep holds a single
    VectorIndex path (a bare frame fanned across several indexes
    would silently rebuild them from the wrong corpus). An
    ineffective retrain stamps a ``retrain_ineffective`` control
    marker carrying the index's id high-water mark: later sweeps SKIP
    the (full-rebuild-cost) retrain while the mark is unchanged —
    reported as ``retrain_suppressed=1`` — and retry automatically
    once new vectors land (the mark goes stale); an effective retrain
    clears it. Default None keeps report-only.

    ``max_tombstone_frac`` (round 10) adds the RETRACTION analogue of
    the file-count threshold: every committed retraction appends rows
    to the family's tombstone ledger, and every live-view read pays a
    broadcast anti-join against it until a compaction physically
    resolves the deletions — bounded by maintenance cadence, which
    this threshold IS. When the ledger holds more than this fraction
    of the primary substrate's rows (see ``_TOMBSTONE_LEDGER`` for
    the per-family pair), the sweep compacts even if the file counts
    are low, and the report row notes ``tombstone_pressure=1``. The
    default 0.25 comes from the measured read-amplification curve
    (``scripts/retraction_read_amp.py``, SCALE.md): the anti-join
    itself stays cheap (broadcast build ∝ ledger rows) so the curve
    is flat until the ledger's own file count and broadcast size
    start to bite; 25% keeps both an order of magnitude below the
    corpus while triggering well before the per-read tax compounds.
    Pass None to disable (forensic sweeps). A ledger-free path pays
    nothing — absence of the directory IS the fast path.

    ``lease_wait_seconds`` (round 9) bounds how long the sweep will
    WAIT for a live writer's directory lease before skipping: the
    default 0 keeps the fail-fast report-and-move-on behavior, while a
    nightly deployment that knows its absorber micro-batches are short
    passes e.g. 120 to serialize behind them instead of deferring the
    compaction a whole day (:func:`lease.waiting`'s 50 ms poll — the
    wait applies to both the swap-recovery lease and the compaction's
    own per-family lease).

    → one report row per path:
    (path, family, ok, violations "name=n;...", max_files_before,
    compacted, max_files_after, recovered). Unknown paths report
    family='unknown', ok=false. The report comes back as a DataFrame
    so a deployment can append it to a maintenance log table."""
    rows = []
    for path in paths:
        family = detect_family(path)
        if family is None:
            rows.append((path, "unknown", False, "unrecognized_state=1",
                         None, False, None, 0))
            continue
        recovered = 0
        if recover_swaps:
            from .lease import LeaseContention, dir_lease

            try:
                with dir_lease(
                    path,
                    role="maintenance.recover_swaps",
                    wait_seconds=lease_wait_seconds,
                ):
                    if family == "VectorIndex":
                        # a committed-but-unfinished coarse retrain
                        # rolls forward here (pure renames) so the
                        # generic swap recovery below never sees its
                        # .__retrain__* windows
                        from .vectorops import VectorIndex

                        if VectorIndex.repair_torn_retrain(spark, path):
                            recovered += 1
                    recovered += _recover_family_swaps(path, family)
            except LeaseContention:
                pass  # a live writer owns the path; its replay repairs
        if not storage.parquet_dir_exists(f"{path}/meta"):
            # the meta itself is mid-swap (family detected from its
            # surviving copy) — the probe would crash reading it;
            # report instead (recover_swaps=True renames it back)
            rows.append((path, family, False, "substrate_missing_meta=1",
                         None, False, None, recovered))
            continue
        res = _CHECKS[family](spark, path)
        purged = False
        repair_err = None
        if (
            purge_torn_retractions
            and not res["ok"]
            and "uncommitted_ledger_rows" in res["violations"]
        ):
            from .lease import LeaseContention, dir_lease

            try:
                with dir_lease(
                    path,
                    role="maintenance.purge_torn_retraction",
                    wait_seconds=lease_wait_seconds,
                ):
                    purged = _purge_torn_retraction(spark, path, family)
            except LeaseContention:
                pass  # a live writer owns the path; its replay repairs
            except ValueError:
                # the repair itself refused (e.g. the CurationState
                # roll-forward found a pending UPDATE marker that must
                # replay first) — report, never crash the sweep
                repair_err = "torn_retraction_repair_refused=1"
            if purged:
                res = _CHECKS[family](spark, path)
        retrained = False
        retrain_ineffective = False
        retrain_suppressed = False
        if (
            retrain_degenerate is not None
            and family == "VectorIndex"
            and "coarse_assignment_degenerate" in res["violations"]
        ):
            from .lease import LeaseContention, dir_lease
            from .vectorops import VectorIndex

            # the corpus is PER PATH: a dict maps each index directory
            # to its own training frame; the bare-DataFrame shorthand
            # is only legal when the sweep holds a single vector path
            # (round-10 review find — one corpus silently rebuilding
            # OTHER indexes is corpus replacement, not maintenance)
            if isinstance(retrain_degenerate, dict):
                corpus = retrain_degenerate.get(path)
            else:
                n_vec = sum(
                    1 for q in paths if detect_family(q) == "VectorIndex"
                )
                if n_vec > 1:
                    raise ValueError(
                        "vacuum(retrain_degenerate=...): a bare corpus "
                        f"DataFrame with {n_vec} VectorIndex paths in the "
                        "sweep is ambiguous — pass a dict "
                        "{index_path: corpus_frame} so each index "
                        "retrains from ITS corpus"
                    )
                corpus = retrain_degenerate
            # backoff: a prior INEFFECTIVE retrain at the same id
            # high-water mark means the corpus geometry has not
            # changed — skip the full-rebuild-cost retrain until new
            # vectors land (the stamp goes stale), instead of paying
            # it every sweep forever (round-10 review find)
            suppress_marker = f"{path}/{VectorIndex._RETRAIN_SUPPRESS}"
            cur_hi = storage.read_control_row(f"{path}/meta").get("max_id")
            suppressed = False
            if corpus is not None and storage.parquet_dir_exists(suppress_marker):
                prior = storage.read_control_row(suppress_marker).get("max_id")
                # a legacy meta has no high-water mark — prior and cur
                # are BOTH None, which is identity of ignorance, not
                # evidence the geometry is unchanged; never suppress on
                # it (round-11 advice fix)
                if cur_hi is not None and prior == cur_hi:
                    suppressed = True
                    retrain_suppressed = True
            if corpus is not None and not suppressed:
                try:
                    with dir_lease(
                        path,
                        role="maintenance.retrain_degenerate",
                        wait_seconds=lease_wait_seconds,
                    ):
                        VectorIndex._retrain_coarse_unfenced(
                            spark, path, corpus
                        )
                        retrained = True
                        # probe + marker writes INSIDE the lease
                        # (round-11 advice fix): written after release,
                        # a concurrent append could land between the
                        # probe and the stamp, and the marker would
                        # suppress retrains over geometry it never saw
                        res = _CHECKS[family](spark, path)
                        retrain_ineffective = (
                            "coarse_assignment_degenerate"
                            in res["violations"]
                        )
                        if retrain_ineffective:
                            storage.write_control_parquet(
                                suppress_marker,
                                [(None if cur_hi is None else int(cur_hi),)],
                                "max_id bigint",
                            )
                        elif storage.parquet_dir_exists(suppress_marker):
                            import shutil

                            shutil.rmtree(storage.local_path(suppress_marker))
                except LeaseContention:
                    pass  # a live writer owns the path; next sweep retrains
        viol = ";".join(f"{k}={n}" for k, n in sorted(res["violations"].items()))
        if retrained:
            viol = ";".join(filter(None, [viol, "retrained_coarse=1"]))
        if retrain_ineffective:
            viol = ";".join(filter(None, [viol, "retrain_ineffective=1"]))
        if retrain_suppressed:
            viol = ";".join(filter(None, [viol, "retrain_suppressed=1"]))
        if purged:
            viol = ";".join(
                filter(None, [viol, "purged_torn_retraction=1"])
            )
        if purge_torn_retractions and not purged and repair_err:
            viol = ";".join(filter(None, [viol, repair_err]))
        dirs = _stage_dirs(path, family)
        worst = max((storage.count_data_files(d) for d in dirs), default=0)
        compacted = False
        pressure = (
            _tombstone_pressure(spark, path, family)
            if max_tombstone_frac is not None
            else None
        )
        over_pressure = (
            pressure is not None and pressure > max_tombstone_frac
        )
        if over_pressure:
            viol = ";".join(filter(None, [viol, "tombstone_pressure=1"]))
        if (
            worst > max_files_per_substrate or over_pressure
        ) and (res["ok"] or compact_unhealthy):
            from .lease import LeaseContention, waiting

            try:
                with waiting(lease_wait_seconds):
                    _compact(spark, path, family, target_rows_per_file)
                compacted = True
            except LeaseContention:
                # a live absorber holds the directory — the nightly
                # sweep reports and moves on rather than racing it;
                # the next sweep compacts once the writer releases
                viol = ";".join(
                    filter(None, [viol, "lease_contention_skipped_compact=1"])
                )
            except T.TornStateError:
                # the family's compact refused over torn state
                # (uncommitted update or retraction rows — reachable
                # only under compact_unhealthy=True, since the probe
                # marks those states not-ok): the sweep's contract is
                # report-don't-crash, and the refusal is the report.
                # The dedicated type means an unrelated ValueError (a
                # bad argument, a corrupt meta) propagates instead of
                # being mislabeled as this refusal.
                viol = ";".join(
                    filter(None, [viol, "compact_refused_torn_state=1"])
                )
        worst_after = (
            max((storage.count_data_files(d) for d in dirs), default=0)
            if compacted
            else worst
        )
        rows.append(
            (path, family, bool(res["ok"]), viol, worst, compacted,
             worst_after, recovered)
        )
    return storage.control_frame(spark, rows, _REPORT_SCHEMA)
