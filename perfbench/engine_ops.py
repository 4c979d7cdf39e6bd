"""The operations each workload times, and the checks of their outputs.

An operation is one inventory query or one step of an index lifecycle.
``Op.run`` is the timed part and returns what ``Op.check`` needs; checks
run after every operation has been timed.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow.parquet as pq


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]] | None = None  # → problems ([] = ok)


def rows_digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame: md5 over its sorted
    row reprs, columns in name order."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_plain(v) for v in r)) for r in pdf[cols].itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _plain(v):
    if hasattr(v, "tolist"):
        return v.tolist()
    if isinstance(v, dict):
        return sorted(v.items())
    return v


def _same(name: str, got, want) -> list[str]:
    g, w = rows_digest(got), rows_digest(want)
    return [] if g == w else [f"{name}: {len(got)} rows {g[:8]} != {len(want)} rows {w[:8]}"]


class _Collected:
    """Stands in for a DataFrame whose rows were already collected, so
    ``testing.check_parity`` compares them without running the query
    again."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


# ---------------------------------------------------------------------------
# query workloads


def query_ops(spark, sf_dir: str, names: list[str], tracer) -> list[Op]:
    from lp_etl_plugins_spark import inventory, testing

    queries, oracles = inventory.all_queries(), inventory.all_oracles()

    def make(name: str) -> Op:
        fn = queries[name]

        def run():
            with tracer.span("inventory.construct"):
                df = fn(spark, sf_dir)
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.exec"):
                return df.toPandas()

        def check(pdf) -> list[str]:
            res = testing.check_parity(
                spark, sf_dir, name, lambda s, d: _Collected(pdf), oracles.get(name)
            )
            return list(res.problems) if not res.ok else []

        return Op(name, run, check)

    return [make(n) for n in names]


# ---------------------------------------------------------------------------
# index_lifecycle


class Corpus:
    """Seeded slices of the first ``n`` generated documents and
    embeddings: a base (ids below 70 %), one monotone delta (the rest)
    and a retraction set (5 % of all ids)."""

    N_PROBES = 8

    def __init__(self, spark, sf_dir: str, seed: int, n: int) -> None:
        import numpy as np
        from pyspark.sql import functions as F

        from . import datagen

        self.spark, self.F = spark, F
        self.refs: dict[str, Any] = {}
        rng = random.Random(seed)
        docs_pd = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas().head(n)
        emb_tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).slice(0, n)
        n_docs, n_emb, dims = len(docs_pd), emb_tbl.num_rows, len(emb_tbl.column("embedding")[0])
        self.doc_cut, self.emb_cut = n_docs * 7 // 10, n_emb * 7 // 10
        self.doc_retract = sorted(rng.sample(range(n_docs), max(1, n_docs // 20)))
        self.emb_retract = sorted(rng.sample(range(n_emb), max(1, n_emb // 20)))
        self.emb_alive = sorted(set(range(n_emb)) - set(self.emb_retract))

        read = spark.read.parquet
        self.docs = read(os.path.join(sf_dir, "documents.parquet")).filter(F.col("doc_id") < n_docs).select(
            "doc_id", "source", "text"
        )
        self.emb = read(os.path.join(sf_dir, "embeddings.parquet")).filter(F.col("vec_id") < n_emb)

        # one probe batch and one batch of unseen documents to serve
        nrng = np.random.default_rng([seed, 99])
        x = nrng.standard_normal((self.N_PROBES, dims))
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        self.probes = spark.createDataFrame(
            [(1_000_000 + i, [float(v) for v in x[i]]) for i in range(self.N_PROBES)],
            "vec_id long, embedding array<double>",
        )
        words = datagen.WORDS
        self.unseen = spark.createDataFrame(
            [(2_000_000 + i, " ".join(words[j] for j in nrng.integers(0, len(words), 40))) for i in range(self.N_PROBES)],
            "doc_id long, text string",
        )
        # bytes of user input each family absorbs
        self.input_bytes = {
            "trigram": int(docs_pd["text"].str.len().sum() + docs_pd["source"].str.len().sum() + 8 * n_docs),
            "vector": n_emb * (8 + 4 + 4 * dims),
        }

    def reference(self, key: str, build: Callable[[], Any]) -> Any:
        """A reference output for the checks, built once and shared by
        every cycle: each cycle absorbs the same corpus."""
        if key not in self.refs:
            self.refs[key] = build()
        return self.refs[key]

    def split(self, df, col: str, cut: int):
        F = self.F
        return df.filter(F.col(col) < cut), df.filter(F.col(col) >= cut)

    def ids(self, values: list[int]):
        return self.spark.createDataFrame([(v,) for v in values], "id long")

    def survivors(self, df, col: str, dead: list[int]):
        return df.filter(~self.F.col(col).isin(dead))


def lifecycle_ops(spark, corpus: Corpus, root: str) -> dict[str, list[Op]]:
    """One daily-delta cycle per family, through public methods only:
    build and save → update + append_saved of a delta → as-of load of
    the base commit → retract + retract_saved → compact →
    ``maintenance.vacuum`` → load and serve one request. The as-of load
    precedes the retraction and the compaction because the TrigramLM
    refuses as-of reads across either."""
    from lp_etl_plugins_spark import maintenance
    from lp_etl_plugins_spark import textops as T
    from lp_etl_plugins_spark import vectorops as V

    c = corpus

    def vacuum(path):
        # the report row carries the family's maintenance.check_* verdict
        rows = maintenance.vacuum(spark, [path]).collect()
        return [f"vacuum: {r['violations']}" for r in rows if not r["ok"]]

    # TrigramLM
    lp = os.path.join(root, "trigram")
    d_base, d_delta = c.split(c.docs, "doc_id", c.doc_cut)
    d_dead = c.docs.filter(c.F.col("doc_id").isin(c.doc_retract))
    d_alive = c.survivors(c.docs, "doc_id", c.doc_retract)

    def lm_update():
        lm = T.TrigramLM.load(spark, lp)
        lm.update(d_delta)
        lm.append_saved(lp)

    def lm_retract():
        lm = T.TrigramLM.load(spark, lp)
        lm.retract(d_dead)
        lm.retract_saved(lp)

    def lm_fresh():
        fresh = T.TrigramLM(d_alive, "text", "doc_id")
        return fresh.counts.toPandas(), fresh.score(c.unseen, "text", "doc_id").toPandas()

    def lm_check(served) -> list[str]:
        counts, scores = c.reference("trigram.fresh", lm_fresh)
        problems = _same("trigram.counts", T.TrigramLM.load(spark, lp).counts.toPandas(), counts)
        return problems + _same("trigram.score", served, scores)

    trigram = [
        Op("trigram.save", lambda: T.TrigramLM(d_base, "text", "doc_id").save(lp)),
        Op("trigram.update", lm_update),
        Op(
            "trigram.as_of",
            lambda: T.TrigramLM.load(spark, lp, as_of_id=c.doc_cut - 1).counts.toPandas(),
            lambda got: _same("trigram.as_of", got, c.reference(
                "trigram.base", lambda: T.TrigramLM(d_base, "text", "doc_id").counts.toPandas()
            )),
        ),
        Op("trigram.retract", lm_retract),
        Op("trigram.compact", lambda: T.TrigramLM.compact(spark, lp)),
        Op("trigram.vacuum", lambda: vacuum(lp), lambda problems: problems),
        Op("trigram.serve", lambda: T.TrigramLM.load(spark, lp).score(c.unseen, "text", "doc_id").toPandas(), lm_check),
    ]

    # VectorIndex
    vp = os.path.join(root, "vector")
    e_base, e_delta = c.split(c.emb, "vec_id", c.emb_cut)

    def v_update():
        idx = V.VectorIndex.load(spark, vp)
        idx.update(e_delta.drop("label"))
        idx.append_saved(vp)

    def v_retract():
        idx = V.VectorIndex.load(spark, vp)
        idx.retract(c.ids(c.emb_retract))
        idx.retract_saved(vp)

    def v_chain():
        # the same build → update → retract chain, in memory only: the
        # quantizer is trained on the base, so a build over the
        # survivors would encode differently
        ref = V.VectorIndex(e_base)
        ref.update(e_delta.drop("label"))
        ref.retract(c.ids(c.emb_retract))
        return ref.search(c.probes, 5).toPandas()

    def v_check(served) -> list[str]:
        live = sorted(r[0] for r in V.VectorIndex.load(spark, vp).live_lists().select("id").collect())
        problems = [] if live == c.emb_alive else [f"vector.live_ids: {len(live)} != {len(c.emb_alive)}"]
        return problems + _same("vector.search", served, c.reference("vector.chain", v_chain))

    vector = [
        Op("vector.save", lambda: V.VectorIndex(e_base).save(vp)),
        Op("vector.update", v_update),
        Op(
            "vector.as_of",
            lambda: V.VectorIndex.load(spark, vp, as_of_id=c.emb_cut - 1).live_lists().select("id").toPandas(),
            lambda got: [] if sorted(got["id"]) == list(range(c.emb_cut)) else ["vector.as_of: membership"],
        ),
        Op("vector.retract", v_retract),
        Op("vector.compact", lambda: V.VectorIndex.compact(spark, vp)),
        Op("vector.vacuum", lambda: vacuum(vp), lambda problems: problems),
        Op("vector.serve", lambda: V.VectorIndex.load(spark, vp).search(c.probes, 5).toPandas(), v_check),
    ]

    return {"trigram": trigram, "vector": vector}
