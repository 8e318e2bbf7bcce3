"""Seeded inputs for the benchmark: documents, query batches and texts.

Every generator takes a ``numpy.random.Generator`` derived from the run's
``--seed``; the program only ever sees the frames built here. Point
shapes follow ``mbrngq_spark.sources.synth.with_geometry_spans``: uniform,
and gaussian islands with sigma = 0.05 of the extent around one centre per
category. That function cannot be used directly because it hashes with a
fixed salt and takes no seed; its island centres are copied here, so the
seed moves the points but not the islands (NGQ cost depends strongly on
where the islands sit).

Texts follow the shape of the sf0.1 ``documents.text`` column: words
drawn from a small vocabulary, 10-100 words per text. A share of the base
texts gets a planted near-duplicate variant with one or two words
replaced, so the pairs dedup must find are known.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SPACE = 100.0          # EngineConfig default: [0, 100] x [0, 100]
CATEGORIES = 3         # EngineConfig.m
ISLAND_SIGMA = 0.05 * SPACE
# with_geometry_spans' hashed centres for categories 0, 1, 2
ISLAND_CENTRES = np.array([[69.6844, 53.24288], [38.73256, 13.50544],
                           [32.97784, 51.64152]])

VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data join index shard cache").split()
PLANTED_MIN_WORDS = 40  # long enough that 1-2 edits keep Jaccard >= 0.7


def streams(seed: int) -> dict[str, np.random.Generator]:
    """Independent generators per input kind, so changing one kind's size
    leaves the others' values unchanged."""
    names = ("docs", "queries", "warmup", "texts", "checks")
    return {n: np.random.default_rng([seed, i]) for i, n in enumerate(names)}


def make_docs(rng: np.random.Generator, n: int, shape: str) -> pd.DataFrame:
    """(doc_id long, x double, y double, category int), ids 0..n-1."""
    cat = rng.integers(0, CATEGORIES, n).astype(np.int32)
    if shape == "uniform":
        x = rng.uniform(0.0, SPACE, n)
        y = rng.uniform(0.0, SPACE, n)
    elif shape == "island":
        x = np.clip(ISLAND_CENTRES[cat, 0] + rng.normal(0.0, ISLAND_SIGMA, n),
                    0.0, SPACE)
        y = np.clip(ISLAND_CENTRES[cat, 1] + rng.normal(0.0, ISLAND_SIGMA, n),
                    0.0, SPACE)
    else:
        raise ValueError(f"unknown shape: {shape}")
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "x": x, "y": y, "category": cat})


def make_queries(rng: np.random.Generator, n: int,
                 first_id: int) -> pd.DataFrame:
    """(query_id long, qx double, qy double): one uniform point in each of
    n cells of a side x side grid over the space (side = ceil(sqrt(n))),
    so every batch covers the space evenly. NGQ cost per query depends on
    where the query sits relative to the islands; stratifying keeps that
    mix, and the batch's cost, the same from batch to batch."""
    side = int(np.ceil(np.sqrt(n)))
    cells = rng.choice(side * side, n, replace=False)
    step = SPACE / side
    return pd.DataFrame({
        "query_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "qx": (cells % side + rng.uniform(0.0, 1.0, n)) * step,
        "qy": (cells // side + rng.uniform(0.0, 1.0, n)) * step})


def make_texts(rng: np.random.Generator, n_base: int,
               dup_share: float) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """(doc_id long, text string) plus the planted (id_a, id_b) pairs.

    ``dup_share`` of the base texts that are long enough get one variant
    each; variants take ids after the base texts."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_base)
    codes = [rng.integers(0, len(vocab), k) for k in lengths]
    texts = [" ".join(vocab[c]) for c in codes]
    ids = list(range(n_base))
    long_ids = np.nonzero(lengths >= PLANTED_MIN_WORDS)[0]
    n_planted = min(int(round(dup_share * n_base)), len(long_ids))
    planted = []
    for i in rng.choice(long_ids, n_planted, replace=False):
        c = codes[i].copy()
        for pos in rng.choice(len(c), rng.integers(1, 3), replace=False):
            # a different word, so every variant really is edited
            c[pos] = (c[pos] + rng.integers(1, len(vocab))) % len(vocab)
        vid = len(texts)
        texts.append(" ".join(vocab[c]))
        ids.append(vid)
        planted.append((int(i), vid))
    return (pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64),
                          "text": texts}), planted)
