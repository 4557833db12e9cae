"""Seeded input generation for the benchmark workloads, cached on disk.

Every input is made with numpy from ``(workload, size, seed)`` alone, written
as parquet under ``<checkout>/.perfbench_data/`` and reused by later runs with
the same seed. Alongside the data each cache holds the reference values the
correctness checks compare against. They are computed here with numpy,
pandas and hashlib from the generated data, never with the package under
test.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# input sizes per workload: "full" is what a measured run uses, "small" is
# the self-check (a few seconds of Spark work per workload)
SIZES = {
    "tabular_bulk": {"full": {"rows": 40_000}, "small": {"rows": 3_000}},
    "tabular_batches": {
        "full": {"fit_rows": 20_000, "batches": 64, "batch_rows": 2_000},
        "small": {"fit_rows": 2_000, "batches": 4, "batch_rows": 200},
    },
    "llm_dedup": {"full": {"docs": 800}, "small": {"docs": 400}},
    "vector_search": {
        "full": {"vectors": 1_000, "dim": 64, "query_batches": 16, "queries": 16},
        "small": {"vectors": 1_000, "dim": 64, "query_batches": 2, "queries": 8},
    },
}
# llm_corpus runs the llm_dedup and vector_search ops on their own inputs
SIZES["llm_corpus"] = {
    size: {w: SIZES[w][size] for w in ("llm_dedup", "vector_search")} for size in ("full", "small")
}

CAT_THRESHOLD = 0.02  # Preprocessor default cat_labels_threshold
_MAIN_REGIONS = ["north", "south", "east", "west", "central", "harbor", "valley", "ridge"]
_RARE_REGIONS = ["fjord", "atoll", "mesa", "tundra", "oasis", "lagoon"]
_CHANNELS = ["web", "store", "phone", "partner"]
_TS0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so inputs do not depend on
    the order in which they are drawn."""
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, salt])


# ------------------------------------------------------------------ tabular


def tabular_frame(rng: np.random.Generator, n: int, id0: int = 0) -> pd.DataFrame:
    """Mixed table: numerics with nulls and ±inf, categoricals with rare
    labels and null/"" values, a boolean and a string datetime column."""
    amount = rng.lognormal(3.0, 1.0, n)
    u = rng.random(n)
    amount[u < 0.03] = np.nan
    amount[(u >= 0.03) & (u < 0.035)] = np.inf
    amount[(u >= 0.035) & (u < 0.04)] = -np.inf
    qty = pd.array(rng.poisson(5, n) + 1, dtype="Int32")
    qty[rng.random(n) < 0.02] = pd.NA
    score = rng.normal(50.0, 10.0, n)

    # main labels 11.75% each, six rare labels 0.25% each, null 3%, "" 1%
    p_main = (1.0 - 0.04 - 0.015) / len(_MAIN_REGIONS)
    labels = _MAIN_REGIONS + _RARE_REGIONS + [None, ""]
    probs = [p_main] * len(_MAIN_REGIONS) + [0.0025] * len(_RARE_REGIONS) + [0.03, 0.01]
    region = np.array(labels, dtype=object)[rng.choice(len(labels), n, p=probs)]
    channel = np.array(_CHANNELS, dtype=object)[rng.choice(4, n, p=[0.4, 0.3, 0.2, 0.1])]
    active = pd.array(rng.random(n) < 0.6, dtype="boolean")
    active[rng.random(n) < 0.01] = pd.NA

    secs = _TS0 + rng.integers(0, 366 * 86400, n)
    ts = pd.to_datetime(secs, unit="s").strftime("%Y-%m-%d %H:%M:%S").to_numpy(dtype=object)
    ts[rng.random(n) < 0.01] = None
    return pd.DataFrame(
        {
            "id": np.arange(id0, id0 + n, dtype="int64"),
            "amount": amount,
            "qty": qty,
            "score": score,
            "region": region,
            "channel": channel,
            "active": active,
            "ts": ts,
        }
    )


NUMERIC_COLS = ["amount", "qty", "score"]
CAT_COLS = ["region", "channel"]


def clamped(s: pd.Series) -> np.ndarray:
    """float64 values with null, NaN and ±inf (|x| > 1e308) mapped to NaN."""
    x = s.astype("Float64").to_numpy(dtype="float64", na_value=np.nan)
    x[~np.isfinite(x) | (np.abs(x) > 1e308)] = np.nan
    return x


def tabular_reference(df: pd.DataFrame) -> dict:
    """Fitted statistics a correct fit must reproduce, from numpy/pandas."""
    n = len(df)
    stats = {}
    for c in NUMERIC_COLS:
        x = clamped(df[c])
        x = x[~np.isnan(x)]
        stats[c] = {
            "min": float(x.min()),
            "max": float(x.max()),
            "mean": float(x.mean()),
            "std": float(x.std(ddof=1)),
        }
    cats = {}
    for c in CAT_COLS:
        counts = df[c].value_counts(dropna=False)
        mapped = set()
        for v, cnt in counts.items():
            if v is None or (isinstance(v, float) and np.isnan(v)) or v in ("", " "):
                mapped.add("None")
            elif cnt < CAT_THRESHOLD * n and len(counts) > 2:
                mapped.add("other")
            else:
                mapped.add(v)
        cats[c] = sorted(mapped)
    return {"rows": n, "numeric_stats": stats, "categories": cats}


# ---------------------------------------------------------------- text

STOPWORDS = {  # words unique to each language's stopword list
    "en": ["the", "and", "of", "to", "in", "is", "a", "that", "it", "for"],
    "es": ["el", "y", "los", "se", "por"],
    "fr": ["le", "et", "les", "des", "du"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
}
SOURCES = ["web", "books", "news", "forum", "wiki"]
QUALITY_MIN = 0.7  # quality-filter threshold used by the llm_dedup op
MIN_TOKENS = 20


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    syl = ["ka", "lo", "mi", "tu", "ra", "ne", "so", "vi", "pe", "gu", "zo", "fa", "xi", "bo"]
    stop = {w for ws in STOPWORDS.values() for w in ws}
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(syl[int(i)] for i in rng.integers(0, len(syl), k))
        if w not in stop:
            words.add(w)
    return sorted(words)


def corpus_frame(rng: np.random.Generator, n_docs: int) -> tuple[pd.DataFrame, dict]:
    """Multilingual corpus with planted exact-duplicate groups and
    near-duplicate clusters. Returns the docs and the planted structure."""
    vocab = np.array(_vocab(rng, 3000), dtype=object)
    docs: list[dict] = []
    exact_groups: list[list[int]] = []
    near_pairs: list[tuple[int, int]] = []

    def body(lang: str, n_tok: int) -> list[str]:
        stops = STOPWORDS[lang]
        is_stop = rng.random(n_tok) < 0.3
        toks = vocab[rng.integers(0, len(vocab), n_tok)]
        sw = np.array(stops, dtype=object)[rng.integers(0, len(stops), n_tok)]
        return list(np.where(is_stop, sw, toks))

    def add(text: str, lang: str, kind: str) -> int:
        i = len(docs)
        docs.append(
            {
                "doc_id": i,
                "source": SOURCES[int(rng.integers(0, len(SOURCES)))],
                "text": text,
                "lang": lang,
                "kind": kind,
            }
        )
        return i

    while len(docs) < n_docs:
        r = rng.random()
        lang = "en" if r < 0.7 else ("es", "fr", "de")[int((r - 0.7) / 0.1) % 3]
        kind = rng.random()
        if lang == "en" and kind < 0.08:
            # junk: short and punctuation-heavy, fails the quality filter
            toks = list(vocab[rng.integers(0, len(vocab), 6)])
            add(" ".join(t + "!!" for t in toks) + " ?? ## !!", lang, "junk")
        elif kind < 0.16:
            # exact-duplicate group of 2-4 verbatim copies
            text = " ".join(body(lang, int(rng.integers(60, 140))))
            ids = [add(text, lang, "exact") for _ in range(int(rng.integers(2, 5)))]
            exact_groups.append(ids)
        elif kind < 0.30:
            # near-duplicate cluster: a base doc and 1-3 variants, each with
            # one token replaced and two appended (5-shingle Jaccard ~0.88)
            toks = body(lang, int(rng.integers(90, 150)))
            base = add(" ".join(toks), lang, "near")
            for _ in range(int(rng.integers(1, 4))):
                v = list(toks)
                v[int(rng.integers(0, len(v)))] = str(vocab[int(rng.integers(0, len(vocab)))])
                v += list(vocab[rng.integers(0, len(vocab), 2)])
                near_pairs.append((base, add(" ".join(v), lang, "near")))
        else:
            add(" ".join(body(lang, int(rng.integers(40, 160)))), lang, "plain")
    df = pd.DataFrame(docs[:n_docs])
    n = len(df)
    planted = {
        "exact_groups": [g for g in ([i for i in g if i < n] for g in exact_groups) if len(g) > 1],
        "near_pairs": [[a, b] for a, b in near_pairs if b < n],
    }
    return df, planted


def shingles(text: str, n: int = 5) -> set[str]:
    toks = text.lower().split()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def corpus_reference(df: pd.DataFrame, planted: dict) -> dict:
    """Expected filter outcome (by construction: English, not junk), the
    number of distinct kept texts by hashlib, and per-doc token counts."""
    kept = df[(df["lang"] == "en") & (df["kind"] != "junk")]
    distinct = {hashlib.sha256(t.encode()).hexdigest() for t in kept["text"]}
    return {
        "docs": len(df),
        "kept_ids": kept["doc_id"].astype(int).tolist(),
        "distinct_kept_texts": len(distinct),
        "n_tokens": [len(t.split()) for t in df["text"]],
        **planted,
    }


# -------------------------------------------------------------- vectors


def vector_frame(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    """Clustered float32 embeddings: 32 clusters of micro-clusters of about
    eight points each, plus 5% planted near-duplicates of other vectors."""
    centers = rng.normal(0.0, 1.0, (32, dim))
    micro = centers[rng.integers(0, 32, n // 8 + 1)] + rng.normal(0.0, 0.5, (n // 8 + 1, dim))
    vecs = micro[rng.integers(0, len(micro), n)] + rng.normal(0.0, 0.1, (n, dim))
    dup = np.flatnonzero(rng.random(n) < 0.05)
    src = rng.integers(0, n, len(dup))
    vecs[dup] = vecs[src] + rng.normal(0.0, 0.01, (len(dup), dim))
    return vecs.astype("float32")


def exact_topk(vecs: np.ndarray, qids: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k neighbour ids per query (self excluded)."""
    unit = vecs.astype("float64")
    unit /= np.maximum(np.linalg.norm(unit, axis=1, keepdims=True), 1e-300)
    sims = unit[qids] @ unit.T
    sims[np.arange(len(qids)), qids] = -np.inf
    part = np.argpartition(-sims, k, axis=1)[:, :k]
    order = np.argsort(-np.take_along_axis(sims, part, axis=1), axis=1, kind="stable")
    return np.take_along_axis(part, order, axis=1)


SEARCH_K = 10


# ---------------------------------------------------------------- cache


def _write(path: str, df: pd.DataFrame | pa.Table) -> None:
    table = df if isinstance(df, pa.Table) else pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path)


def _generate(workload: str, size: dict, seed: int, out: str) -> dict:
    if workload == "tabular_bulk":
        df = tabular_frame(_rng(seed, "bulk"), size["rows"])
        _write(os.path.join(out, "table.parquet"), df)
        return tabular_reference(df)
    if workload == "tabular_batches":
        fit = tabular_frame(_rng(seed, "fit"), size["fit_rows"])
        n = size["batches"] * size["batch_rows"]
        pool = tabular_frame(_rng(seed, "batches"), n, id0=10_000_000)
        pool.insert(1, "batch", np.arange(n, dtype="int32") // size["batch_rows"])
        _write(os.path.join(out, "fit.parquet"), fit)
        _write(os.path.join(out, "batches.parquet"), pool)
        return tabular_reference(fit)
    if workload == "llm_dedup":
        df, planted = corpus_frame(_rng(seed, "corpus"), size["docs"])
        _write(os.path.join(out, "docs.parquet"), df[["doc_id", "source", "text"]])
        return corpus_reference(df, planted)
    if workload == "vector_search":
        rng = _rng(seed, "vectors")
        vecs = vector_frame(rng, size["vectors"], size["dim"])
        table = pa.table(
            {
                "vec_id": pa.array(np.arange(len(vecs), dtype="int64")),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            }
        )
        _write(os.path.join(out, "vectors.parquet"), table)
        nq = size["query_batches"] * size["queries"]
        qids = np.sort(rng.choice(len(vecs), nq, replace=False)).reshape(size["query_batches"], -1)
        top = exact_topk(vecs, qids.ravel(), SEARCH_K).reshape(qids.shape[0], qids.shape[1], -1)
        return {"query_batches": qids.tolist(), "exact_topk": top.tolist(), "k": SEARCH_K}
    if workload == "llm_corpus":
        return {w: _generate(w, size[w], seed, out) for w in ("llm_dedup", "vector_search")}
    raise ValueError(f"unknown workload {workload!r}")


def ensure_inputs(root: str, workload: str, small: bool, seed: int) -> tuple[str, dict]:
    """Directory holding the inputs for (workload, size, seed) and their
    reference values; generated on first use, atomically."""
    size_name = "small" if small else "full"
    size = SIZES[workload][size_name]
    out = os.path.join(root, "inputs", f"{workload}-{size_name}-s{seed}")
    ref_path = os.path.join(out, "reference.json")
    if not os.path.exists(ref_path):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        ref = _generate(workload, size, seed, tmp)
        ref["size"] = size
        with open(os.path.join(tmp, "reference.json"), "w") as f:
            json.dump(ref, f)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(ref_path) as f:
        return out, json.load(f)
