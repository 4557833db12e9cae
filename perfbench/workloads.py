"""The four benchmark workloads.

Each workload loads its generated inputs into a Spark session, runs one op
at a time (closed loop, one client) and checks the op's outputs against the
reference values of ``inputs.py``. An op returns its rows, its phase times
and whether it failed; everything an op does after its timed phases (checks,
plan counters of a traced run) is outside its latency.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
from tracing import arrow_eval_nodes, persisted_rdds, plan_nodes, tree_cpu_s

_PID = os.getpid()


class CheckFailed(Exception):
    """An output disagrees with the independently computed expectation."""


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class _Timer:
    """Adds the wall time of each ``with`` block to ``phases[name]`` and the
    CPU time the process tree spent in it to ``cpu[name]``."""

    def __init__(self):
        self.phases: dict[str, float] = {}
        self.cpu: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        c0 = tree_cpu_s(_PID)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.phases[name] = self.phases.get(name, 0.0) + t1 - t0
            self.cpu[name] = self.cpu.get(name, 0.0) + tree_cpu_s(_PID) - c0

    def result(self, **extra) -> dict:
        return {"phases": self.phases, "cpu": self.cpu, **extra}


class Workload:
    name = ""
    warmup_ops = 1
    round_ops = 1  # ops in one round; a run attempts whole rounds

    def __init__(self, spark, tracer, data_dir: str, ref: dict):
        self.spark, self.tr, self.dir, self.ref = spark, tracer, data_dir, ref
        self.sc = spark.sparkContext
        self._cached: list = []

    def _read_cached(self, name: str, partitions: int | None = None):
        df = self.spark.read.parquet(os.path.join(self.dir, name))
        if partitions:
            df = df.repartition(partitions)
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def load(self) -> None:
        """Read the inputs and cache them; repeated loads replace the cache."""
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []
        self._load()

    def _load(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed set-up of the checks: reads the generated inputs with
        pandas, and anything else that is the benchmark's own cost."""

    def is_refit(self, i: int) -> bool:
        """Whether op ``i`` is a zero-row refit, kept out of the latency
        metrics and never traced."""
        return False

    def op(self, i: int) -> dict:
        raise NotImplementedError


# ------------------------------------------------------------------ tabular



def _check_fit(prep, ref: dict) -> None:
    st = prep.state
    for c, want in ref["numeric_stats"].items():
        got = st.numeric_stats[c]
        for k in ("min", "max"):
            _require(got[k] == want[k], f"fit {c}.{k}: {got[k]} != numpy {want[k]}")
        for k in ("mean", "std"):
            _require(
                abs(got[k] - want[k]) <= 1e-9 * max(1.0, abs(want[k])),
                f"fit {c}.{k}: {got[k]} != numpy {want[k]}",
            )
    for c, want in ref["categories"].items():
        _require(st.categories[c] == want, f"fit categories {c}: {st.categories[c]} != pandas {want}")
    _require(st.n_rows == ref["rows"], f"fit n_rows {st.n_rows} != {ref['rows']}")


def _refit_empty(empty) -> dict:
    """Refit on a zero-row window. Passes if it fits a state whose transform
    of an empty batch is well-formed, or if it raises ValueError."""
    from preprocessor_spark import Preprocessor

    t = _Timer()
    with t("refit"):
        try:
            prep = Preprocessor(
                empty, scaling="standardize", num_fill_null="mean", excluded_col=["id"]
            )
            failed = prep.transform(empty).collect() != []
        except ValueError:
            failed = False
        except Exception:  # today: TypeError from int(None) in the fit
            failed = True
    return t.result(rows=0, failed=failed, refit=True)


class TabularBulk(Workload):
    """Fit → transform → inverse_transform cycles over one large table,
    quantile scaling (approxQuantile fit, Arrow pandas-UDF scaler, datetime
    sort). Each round is three cycles and one refit on a zero-row window."""

    name = "tabular_bulk"
    round_ops = 4

    def _load(self):
        self.table = self._read_cached("table.parquet")
        self.rows = self.ref["rows"]

    def _fit(self):
        from preprocessor_spark import Preprocessor

        return Preprocessor(
            self.table, scaling="quantile", num_fill_null="mean", excluded_col=["id"]
        )

    def prepare(self):
        self.src = pd.read_parquet(os.path.join(self.dir, "table.parquet"))

    def is_refit(self, i):
        return i >= self.warmup_ops and (i - self.warmup_ops) % self.round_ops == self.round_ops - 1

    def op(self, i):
        if self.is_refit(i):
            return _refit_empty(self.table.limit(0))
        tr, t = self.tr, _Timer()
        with t("fit"), tr.span("preprocessor.fit"):
            prep = self._fit()
        with t("transform"):
            with tr.span("preprocessor.transform"):
                out = prep.transform(self.table)
            with tr.span("preprocessor.transform.exec"):
                out = out.persist()
                n_out = out.count()
        with t("inverse"):
            with tr.span("preprocessor.inverse_transform"):
                back = prep.inverse_transform(out)
            with tr.span("preprocessor.inverse_transform.exec"):
                back.write.format("noop").mode("overwrite").save()
        _check_fit(prep, self.ref)
        _require(n_out == self.rows, f"transform rows {n_out} != {self.rows}")
        if i == 0:
            self._check_output(out.toPandas())
        if tr.enabled:
            rebuilt = prep.transform(self.table)
            tr.note("preprocessor.transform", plan_nodes=plan_nodes(rebuilt),
                    arrow_eval_nodes=arrow_eval_nodes(rebuilt))
            tr.note("preprocessor.inverse_transform", plan_nodes=plan_nodes(back))
        out.unpersist(blocking=True)
        return t.result(rows=self.rows)

    def _check_output(self, out: pd.DataFrame) -> None:
        """Full-output checks, made on the warm-up op, outside the window."""
        src = self.src
        _require(len(out) == len(src), f"transform rows {len(out)} != {len(src)}")
        for c in inputs.CAT_COLS:
            dummies = [d for d in out.columns if d.startswith(f"{c}_")]
            _require(
                sorted(d[len(c) + 1 :] for d in dummies) == self.ref["categories"][c],
                f"one-hot columns of {c}: {dummies}",
            )
            sums = out[dummies].astype("int64").sum(axis=1)
            _require(bool((sums == 1).all()), f"one-hot group {c} does not sum to 1 on every row")
        merged = src.merge(out, on="id", suffixes=("_in", "_out"))
        _require(len(merged) == len(src), "transform output ids differ from input ids")
        for c in inputs.NUMERIC_COLS:
            x = inputs.clamped(merged[f"{c}_in"])
            y = merged[f"{c}_out"].to_numpy(dtype="float64")
            ok = ~np.isnan(x)
            order = np.argsort(x[ok], kind="stable")
            xs, ys = x[ok][order], y[ok][order]
            _require(bool(np.isfinite(ys).all()), f"quantile output of {c} has non-finite values")
            bad = (np.diff(ys) < -1e-12) & (np.diff(xs) > 0)
            _require(not bad.any(), f"quantile output of {c} is not monotone in its input")


class TabularBatches(Workload):
    """One standardize fit, then many small batches through transform →
    inverse_transform → collect; every fourth op is a refit on a zero-row
    window."""

    name = "tabular_batches"
    warmup_ops = 4
    round_ops = 4

    def _load(self):
        self.fit_df = self._read_cached("fit.parquet")
        self.pool = self._read_cached("batches.parquet")
        self.prep = None

    def prepare(self):
        self.n_batches = self.ref["size"]["batches"]
        self.src = pd.read_parquet(os.path.join(self.dir, "batches.parquet")).set_index("id")

    def _fit_once(self):
        from preprocessor_spark import Preprocessor

        self.prep = Preprocessor(
            self.fit_df, scaling="standardize", num_fill_null="mean", excluded_col=["id"]
        )
        _check_fit(self.prep, self.ref)

    def _batch(self, b: int):
        return self.pool.filter(F.col("batch") == b)

    def is_refit(self, i):
        return i % self.round_ops == self.round_ops - 1

    def op(self, i):
        if self.is_refit(i):
            return _refit_empty(self._batch(-1).drop("batch"))
        if self.prep is None:
            self._fit_once()
        tr, t = self.tr, _Timer()
        b = i % self.n_batches
        with t("batch"):
            with tr.span("preprocessor.transform"):
                out = self.prep.transform(self._batch(b))
            with tr.span("preprocessor.inverse_transform"):
                back = self.prep.inverse_transform(out)
            with tr.span("preprocessor.inverse_transform.exec"):
                got = back.toPandas()
        self._check_restored(got, b)
        if i < self.warmup_ops:
            self._check_standardized()
        if tr.enabled:
            tr.note("preprocessor.transform", plan_nodes=plan_nodes(out))
            tr.note("preprocessor.inverse_transform", plan_nodes=plan_nodes(back))
        return t.result(rows=len(got))

    def _check_restored(self, got: pd.DataFrame, b: int) -> None:
        want = self.src[self.src["batch"] == b]
        got = got.set_index("id").reindex(want.index)
        _require(len(got) == len(want) and not got["batch"].isna().any(), f"batch {b}: rows lost")
        for c in inputs.NUMERIC_COLS:
            x = inputs.clamped(want[c])
            ok = ~np.isnan(x)
            y = got[c].to_numpy(dtype="float64", na_value=np.nan)[ok]
            _require(
                bool(np.allclose(y, x[ok], rtol=1e-9, atol=1e-9)),
                f"batch {b}: inverse_transform does not restore {c}",
            )
        for c in inputs.CAT_COLS:
            cats = set(self.ref["categories"][c])
            exp = want[c].map(
                lambda v: None if v in (None, "", " ") else (v if v in cats else "other")
            )
            g = got[c].where(got[c].notna(), None)
            _require(bool((exp.fillna("<null>") == g.fillna("<null>")).all()), f"batch {b}: {c} not restored")
        a = want["active"].astype("boolean")
        ga = got["active"].astype("boolean")
        _require(bool((a.fillna(False) == ga.fillna(False)).all() and (a.isna() == ga.isna()).all()),
                 f"batch {b}: active not restored")
        ts = want["ts"].notna()
        _require(bool((got["ts"][ts] == want["ts"][ts]).all()), f"batch {b}: ts not restored")

    def _check_standardized(self):
        """Standardized values equal (x - mean) / std from numpy to 1e-9;
        made on the warm-up op, outside the window."""
        out = self.prep.transform(self._batch(0)).toPandas().set_index("id")
        want = self.src[self.src["batch"] == 0]
        out = out.reindex(want.index)
        for c, st in self.ref["numeric_stats"].items():
            x = inputs.clamped(want[c])
            x[np.isnan(x)] = st["mean"]
            exp = (x - st["mean"]) / st["std"]
            got = out[c].to_numpy(dtype="float64")
            _require(bool(np.allclose(got, exp, rtol=0, atol=1e-9)), f"standardized {c} != numpy")


# ---------------------------------------------------------------- corpus

MINHASH = {"num_hashes": 64, "bands": 16, "threshold": 0.7}
JACCARD_TOLERANCE = 0.15  # ~2.5 sigma of a 64-hash MinHash estimate
NEAR_RECALL_FLOOR = 0.9


class LlmDedup(Workload):
    """Lang-id / token-count / quality filter → exact content-hash dedup →
    MinHash LSH pairs → connected-components keep-canonical → per-source
    stats, each layer materialized inside one persist_scope."""

    name = "llm_dedup"

    def _load(self):
        self.docs = self._read_cached("docs.parquet", partitions=4)

    def prepare(self):
        src = pd.read_parquet(os.path.join(self.dir, "docs.parquet"))
        self.shingles = [inputs.shingles(t) for t in src["text"]]
        self.sources = src["source"].tolist()
        # planted near-duplicate pairs whose members both survive the filter
        # and exact dedup (which keeps the min doc id per distinct text)
        first: dict[str, int] = {}
        for d in sorted(self.ref["kept_ids"]):
            first.setdefault(src["text"][d], d)
        survivors = set(first.values())
        self.near = {
            (min(a, b), max(a, b)) for a, b in self.ref["near_pairs"] if a in survivors and b in survivors
        }

    def op(self, i):
        from preprocessor_spark.caching import persist_scope, register_persisted
        from preprocessor_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from preprocessor_spark.operators.graph import dedup_keep_canonical
        from preprocessor_spark.operators.text import (
            lang_id_expr,
            quality_score_expr,
            token_count_expr,
        )

        tr, t = self.tr, _Timer()
        before = persisted_rdds(self.sc)
        with persist_scope():
            with t("pipeline"):
                with tr.span("operators.text.filter"):
                    text = F.col("text")
                    filt = self.docs.select(
                        "doc_id", "source", "text",
                        token_count_expr(text).alias("n_tokens"),
                        lang_id_expr(text).alias("lang"),
                        quality_score_expr(text).alias("quality"),
                    ).filter(
                        (F.col("lang") == "en")
                        & (F.col("n_tokens") >= inputs.MIN_TOKENS)
                        & (F.col("quality") >= inputs.QUALITY_MIN)
                    ).select("doc_id", "source", "text", "n_tokens")
                    filt = register_persisted(filt.persist())
                    n_filtered = filt.count()
                with tr.span("operators.dedup.exact"):
                    hashed = filt.withColumn("content_hash", F.md5("text"))
                    exact = exact_dedup(hashed, cols=["content_hash"], id_col="doc_id")
                    exact = register_persisted(exact.drop("content_hash").persist())
                    n_exact = exact.count()
                with tr.span("operators.dedup.minhash_lsh_pairs"):
                    pairs = minhash_lsh_pairs(exact, "text", "doc_id", **MINHASH)
                    pairs = register_persisted(pairs.persist())
                    n_pairs = pairs.count()
                with tr.span("operators.graph.dedup_keep_canonical"):
                    kept = dedup_keep_canonical(exact, pairs, "doc_id")
                    kept = register_persisted(kept.persist())
                    kept.count()
                with tr.span("stats.per_source"):
                    stats = kept.groupBy("source").agg(
                        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("tokens")
                    ).collect()
            kept_ids = [r[0] for r in kept.select("doc_id").collect()]
            pair_rows = [(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()]
            if tr.enabled:
                cands = minhash_lsh_pairs(
                    exact, "text", "doc_id", **{**MINHASH, "threshold": None}
                ).count()
                tr.note("operators.text.filter", kept_docs=n_filtered)
                tr.note(
                    "operators.dedup.minhash_lsh_pairs",
                    candidate_pairs=cands,
                    verified_pairs=n_pairs,
                    verify_yield=n_pairs / max(cands, 1),
                    arrow_eval_nodes=arrow_eval_nodes(pairs),
                )
                tr.note("operators.graph.dedup_keep_canonical", edges_in=n_pairs)
        tr.note("caching.persist_scope", persisted_rdds_after=persisted_rdds(self.sc) - before)
        self._check(n_filtered, n_exact, kept_ids, pair_rows, stats)
        return t.result(rows=self.ref["docs"])

    def _check(self, n_filtered, n_exact, kept_ids, pair_rows, stats):
        ref = self.ref
        _require(n_filtered == len(ref["kept_ids"]), f"filter kept {n_filtered} != {len(ref['kept_ids'])}")
        _require(n_exact == ref["distinct_kept_texts"],
                 f"exact dedup kept {n_exact} != {ref['distinct_kept_texts']} distinct texts (hashlib)")
        kept = set(kept_ids)
        for g in ref["exact_groups"]:
            _require(sum(1 for d in g if d in kept) <= 1, f"two members of exact group {g} survive")
        for a, b in pair_rows:
            sa, sb = self.shingles[a], self.shingles[b]
            j = len(sa & sb) / len(sa | sb)
            _require(j >= MINHASH["threshold"] - JACCARD_TOLERANCE,
                     f"pair ({a},{b}) has 5-shingle Jaccard {j:.3f}")
        if self.near:
            recall = len(self.near & set(pair_rows)) / len(self.near)
            _require(recall >= NEAR_RECALL_FLOOR, f"near-duplicate recall {recall:.3f} < {NEAR_RECALL_FLOOR}")
        by_src: dict[str, list[int]] = {}
        for d in kept_ids:
            by_src.setdefault(self.sources[d], []).append(d)
        got = {r["source"]: (r["n_docs"], r["tokens"]) for r in stats}
        want = {s: (len(ds), sum(ref["n_tokens"][d] for d in ds)) for s, ds in by_src.items()}
        _require(got == want, f"per-source stats {got} != {want}")


# ---------------------------------------------------------------- vectors

RECALL_FLOOR = 0.5  # IVF-PQ recall@10 against exact cosine top-10
PQ = {"m": 16, "sample_rows": 2048, "seed": 7}
IVF = {"n_cells": 16, "sample_rows": 2048}


class VectorSearch(Workload):
    """The call chain of the knn_ivfpq registry query: PQ + IVF training →
    ivfpq_assign_encode (kept lazy) → ivfpq_search for a query batch."""

    name = "vector_search"

    def _load(self):
        self.corpus = self._read_cached("vectors.parquet", partitions=4)

    def prepare(self):
        self.batches = self.ref["query_batches"]
        self.exact = self.ref["exact_topk"]

    def op(self, i):
        from preprocessor_spark.caching import persist_scope
        from preprocessor_spark.operators.pq import ivfpq_assign_encode, ivfpq_search, pq_train
        from preprocessor_spark.operators.similarity import ivf_train_centroids

        tr, t = self.tr, _Timer()
        qb = i % len(self.batches)
        queries = self.corpus.filter(F.col("vec_id").isin(self.batches[qb]))
        before = persisted_rdds(self.sc)
        with persist_scope():
            with t("search"):
                with tr.span("operators.pq.train"):
                    books = pq_train(self.corpus, "embedding", **PQ)
                    cents = ivf_train_centroids(self.corpus, "embedding", **IVF)
                index = ivfpq_assign_encode(self.corpus, cents, books, "embedding", "vec_id")
                with tr.span("operators.pq.ivfpq_search"):
                    res = ivfpq_search(
                        index, cents, books, queries, "embedding", "vec_id",
                        k=self.ref["k"], n_probe=8,
                    )
                    rows = res.collect()
            if tr.enabled:
                # the op keeps the index lazy, as knn_ivfpq does; one
                # standalone pass over the corpus gives the encode layer's cost
                with tr.span("operators.pq.ivfpq_assign_encode"):
                    index.write.format("noop").mode("overwrite").save()
                tr.note(
                    "operators.pq.ivfpq_assign_encode",
                    arrow_eval_nodes=arrow_eval_nodes(res, "_assign_enc"),
                )
        tr.note("caching.persist_scope", persisted_rdds_after=persisted_rdds(self.sc) - before)
        self._check(rows, qb)
        return t.result(rows=len(self.batches[qb]))

    def _check(self, rows, qb):
        got: dict[int, list[int]] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        qids, k = self.batches[qb], self.ref["k"]
        _require(sorted(got) == sorted(qids), "ivfpq_search did not answer every query")
        hits = sum(len(set(got[q]) & set(self.exact[qb][n])) for n, q in enumerate(qids))
        recall = hits / (k * len(qids))
        _require(recall >= RECALL_FLOOR, f"IVF-PQ recall@{k} {recall:.3f} < {RECALL_FLOOR}")


# ---------------------------------------------------------------- corpus + vectors


class LlmCorpus(Workload):
    """The LLM-corpus operators in one op: the llm_dedup pipeline over the
    corpus, then the vector_search chain for one query batch over the
    embeddings. One op here has the work of one op of each of the two, so a
    run of fixed length measures both at once instead of in two runs."""

    name = "llm_corpus"

    def __init__(self, spark, tracer, data_dir: str, ref: dict):
        super().__init__(spark, tracer, data_dir, ref)
        self.dedup = LlmDedup(spark, tracer, data_dir, ref["llm_dedup"])
        self.search = VectorSearch(spark, tracer, data_dir, ref["vector_search"])

    def load(self):
        self.dedup.load()
        self.search.load()

    def prepare(self):
        self.dedup.prepare()
        self.search.prepare()

    def op(self, i):
        a, b = self.dedup.op(i), self.search.op(i)
        return {
            "rows": a["rows"],
            "phases": {**a["phases"], **b["phases"]},
            "cpu": {**a["cpu"], **b["cpu"]},
        }


WORKLOADS = {w.name: w for w in (TabularBulk, TabularBatches, LlmDedup, VectorSearch, LlmCorpus)}
