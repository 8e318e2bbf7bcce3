"""Trainable quality classifier (VERDICT r5 item 5): distributed logistic
regression over the engine's text-feature columns.

Production pipelines score document quality with a small supervised model
trained on labeled seed sets, not just heuristic Column math
(``text.with_text_features``). This module trains that model with the
engine's JVM-fold discipline: per iteration ONE ``select(sum(...))`` over
the feature frame — map-side partial aggregation, 4 doubles of driver
traffic — no MLlib dependency, no Python in the per-row path.

Cross-engine determinism (the ``bpe_train`` / bm25 discipline):

* Features and labels are EXACT IEEE arithmetic over integers (token /
  stopword / length counts): correctly-rounded divisions and ``least``
  applied in a fixed order are bit-identical in the JVM, DuckDB, and
  NumPy, so all three engines see the same training matrix.
* Label noise comes from md5 (bit-identical everywhere): the heuristic
  quality threshold XOR a 1-in-8 md5 flip.
* The gradient is quantized PER ROW: each contribution err_i * x_ij is
  rounded half-up at ``QC_CONTRIB_SCALE`` (1e9) to an int64 and the sum
  runs in INTEGER arithmetic — exact and order-independent, so Spark's
  shuffle-order sum, NumPy's sum, and the driver-local path all apply
  byte-identical updates and the learned weights are EQUAL by
  construction (a mean-gradient round() was knife-edged on summation
  order — one 1e-13 jitter flipped a quantization bucket). The oracle
  (which cannot iterate in SQL) carries the NumPy twin's weights as
  literals, and the score part replays sigmoid(w·x) in DuckDB from
  those literals.
* Scores are rounded to 6dp before hashing (JVM exp vs libm exp differ
  ~1 ulp — never hash raw transcendentals, CLAUDE.md).

Reference parity note: the reference engine has no ML tier; this is a
brief-level addition for the training-data pipeline (SURVEY.md §6).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mbrngq_spark.operators.text import n_tokens_col, substr_hits_col

QC_ITERS = 12       # fixed iteration count (deterministic stopping point;
                    # AUC is flat 4..24 iters — 12 converges the direction)
QC_LR = 0.5
QC_THRESHOLD = 0.7  # heuristic-quality cut for the seed label — sits at the
                    # fixture's qraw median, so labels are balanced (52% pos)
QC_CONTRIB_SCALE = 1e9  # per-row gradient quantum: int64 sums are exact,
                        # so update bit-equality is order-independent
QC_SCORE_DP = 6
N_FEATURES = 4      # bias, length-sat, stopword-sat, avg-token-len/10


# --- features + label: one definition, three engines -------------------------

def quality_feature_cols(text: Column) -> list[Column]:
    """[1, min(n_tokens/200,1), min(n_stop*10/n_tokens,1), avg_tok_len/10]
    — the saturating terms of text.with_text_features' heuristic quality
    plus the shape feature, every op exact IEEE from integer counts."""
    nt = n_tokens_col(text).cast("double")
    nstop = (substr_hits_col(text, " the ")
             + substr_hits_col(text, " a ")).cast("double")
    avg = (F.length(text).cast("double") - (nt - F.lit(1.0))) / nt
    return [F.lit(1.0),
            F.least(nt / F.lit(200.0), F.lit(1.0)),
            F.least(nstop * F.lit(10.0) / nt, F.lit(1.0)),
            avg / F.lit(10.0)]


def quality_label_col(text: Column) -> Column:
    """Seed label: heuristic quality >= QC_THRESHOLD, flipped for the
    1-in-8 md5 noise bucket (ascii of the first md5 hex char — the
    cross-engine-safe small-int derivation). The noise caps attainable
    AUC at ~0.875; the QC_ITERS model reaches ~0.85."""
    feats = quality_feature_cols(text)
    qraw = feats[1] * F.lit(0.5) + feats[2] * F.lit(0.5)
    flip = F.ascii(F.substring(F.md5(text.cast("binary")), 1, 1)) % 8 == 0
    return ((qraw >= F.lit(QC_THRESHOLD)) != flip).cast("long")


def quality_features_py(text: str) -> list[float]:
    """Pure-Python twin of quality_feature_cols (same integer formulas,
    same op order)."""
    nt = (len(text) - len(text.replace(" ", ""))) + 1
    nstop = ((len(text) - len(text.replace(" the ", ""))) // 5
             + (len(text) - len(text.replace(" a ", ""))) // 3)
    avg = (float(len(text)) - (float(nt) - 1.0)) / float(nt)
    return [1.0,
            min(nt / 200.0, 1.0),
            min(float(nstop) * 10.0 / float(nt), 1.0),
            avg / 10.0]


def quality_label_py(text: str) -> int:
    f = quality_features_py(text)
    qraw = f[1] * 0.5 + f[2] * 0.5
    flip = ord(hashlib.md5(text.encode()).hexdigest()[0]) % 8 == 0
    return int((qraw >= QC_THRESHOLD) != flip)


def quality_feature_sql(col: str) -> list[str]:
    """Twin expressions in the DuckDB∩Spark dialect subset (same op order
    as the Column form; floor(a/b) == // for the non-negative counts here,
    and Spark's parser rejects //) — pytest feeds this through Spark's own
    parser to guard generator drift."""
    nt = f"CAST((length({col}) - length(replace({col}, ' ', ''))) + 1 AS DOUBLE)"
    nstop = (f"CAST(floor((length({col}) - length(replace({col}, ' the ', ''))) / 5)"
             f" + floor((length({col}) - length(replace({col}, ' a ', ''))) / 3)"
             f" AS DOUBLE)")
    avg = f"((CAST(length({col}) AS DOUBLE) - ({nt} - 1.0)) / {nt})"
    return ["1.0",
            f"least({nt} / 200.0, 1.0)",
            f"least({nstop} * 10.0 / {nt}, 1.0)",
            f"({avg} / 10.0)"]


# --- fixture corpus (the labeled seed set, rebuilt identically by gate
#     and oracle — hashlib only, no RNG) --------------------------------------

def quality_fixture(n_docs: int = 400) -> list[str]:
    """Deterministic labeled-seed corpus: md5-derived token counts
    (5..384), stopword density, and content-word lengths, so every
    feature axis varies and the threshold label is learnable."""
    texts: list[str] = []
    for i in range(n_docs):
        h = hashlib.md5(f"qc/{i}".encode()).hexdigest()
        nw = 5 + int(h[:3], 16) % 250
        stop_period = 6 + int(h[3], 16) % 24   # every k-th word a stopword
        words: list[str] = []
        for k in range(nw):
            hk = h[(7 * k) % 24: (7 * k) % 24 + 4]
            if k % stop_period == 1:
                words.append("the" if int(hk[0], 16) % 2 == 0 else "a")
            else:
                ln = 2 + int(hk[1], 16) % 9
                words.append("".join(
                    chr(ord("b") + int(c, 16) % 24)
                    for c in (h + h)[k % 13: k % 13 + ln]))
        texts.append(" ".join(words))
    return texts


# --- trainers ----------------------------------------------------------------

def _train_on_matrix(x: np.ndarray, y: np.ndarray, iters: int,
                     lr: float) -> list[float]:
    """The shared update loop: full-batch gradient with each per-row
    contribution err_i * x_ij rounded HALF-UP (matching JVM
    BigDecimal.HALF_UP, not numpy's half-even rint) to an int64 at
    QC_CONTRIB_SCALE, summed in integer arithmetic — exact regardless of
    row/shuffle order, so every caller walks the identical weight
    trajectory. The margin is accumulated term-by-term (no BLAS dot /
    FMA) in the same left-to-right order Spark's codegen emits."""
    n = len(y)
    w = [0.0] * N_FEATURES
    for _ in range(iters):
        margin = np.zeros(n)
        for j in range(N_FEATURES):
            margin = margin + x[:, j] * w[j]
        err = 1.0 / (1.0 + np.exp(-margin)) - y
        gs = err[:, None] * x * QC_CONTRIB_SCALE
        g = (np.sign(gs) * np.floor(np.abs(gs) + 0.5)) \
            .astype(np.int64).sum(axis=0)
        w = [w[j] - lr * (float(g[j]) / QC_CONTRIB_SCALE / n)
             for j in range(N_FEATURES)]
    return w


def train_quality_classifier(docs: DataFrame, iters: int = QC_ITERS,
                             lr: float = QC_LR, text_col: str = "text",
                             local_threshold: int = 200_000) -> list[float]:
    """Distributed logistic regression with the hybrid discipline of
    ``text.train_bpe`` (r5 verdict item 4): featurization is one JVM-side
    map-only projection, checkpointed once; then

    * seed sets ≤ ``local_threshold`` rows (labeled data is small by
      nature) collect the n×4 feature matrix ONCE and finish training driver-side —
      per-iteration Spark scheduling (~1.5 s/round of py4j + job
      overhead) leaves the critical path;
    * larger seed sets iterate distributed: per iteration ONE
      ``sum(round((sigmoid(w·x) - y) * x_j * SCALE)::long)`` aggregation
      (map-side partials, N_FEATURES longs of driver traffic).

    Both paths sum identical int64 per-row gradient quanta (exact,
    order-independent), so the learned weights are EQUAL (pytest-asserted
    at the threshold boundary) and equal train_quality_reference's."""
    t = F.col(text_col)
    cols = [c.alias(f"x{j}")
            for j, c in enumerate(quality_feature_cols(t))]
    d = docs.select(*cols, quality_label_col(t).cast("double").alias("y"))
    d = d.coalesce(max(1, d.rdd.getNumPartitions() // 8)) \
        .localCheckpoint(eager=True)
    n = d.count()
    if n <= local_threshold:
        pdf = d.toPandas()
        x = pdf[[f"x{j}" for j in range(N_FEATURES)]].to_numpy()
        return _train_on_matrix(x, pdf["y"].to_numpy(), iters, lr)
    w = [0.0] * N_FEATURES
    for _ in range(iters):
        margin = sum(F.col(f"x{j}") * F.lit(w[j])
                     for j in range(N_FEATURES))
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - F.col("y")
        row = d.select(
            *[F.sum(F.round(err * F.col(f"x{j}")
                            * F.lit(QC_CONTRIB_SCALE)).cast("long"))
              .alias(f"g{j}") for j in range(N_FEATURES)]).first()
        w = [w[j] - lr * (float(row[f"g{j}"]) / QC_CONTRIB_SCALE / n)
             for j in range(N_FEATURES)]
    return w


def train_quality_reference(texts: list[str], iters: int = QC_ITERS,
                            lr: float = QC_LR) -> list[float]:
    """Pure-Python twin (pytest ground truth + the oracle's weight
    source): Python featurization + the shared update loop."""
    x = np.array([quality_features_py(t) for t in texts])
    y = np.array([quality_label_py(t) for t in texts], dtype=np.float64)
    return _train_on_matrix(x, y, iters, lr)


# --- scoring -----------------------------------------------------------------

def quality_score_col(text: Column, weights: list[float]) -> Column:
    """sigmoid(w·x) as a Column, rounded QC_SCORE_DP before any hashing/
    ranking (JVM exp vs libm exp differ ~1 ulp)."""
    feats = quality_feature_cols(text)
    margin = sum(f * F.lit(wj) for f, wj in zip(feats, weights))
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), QC_SCORE_DP)


def quality_score_sql(col: str, weights: list[float]) -> str:
    """DuckDB twin of quality_score_col — weights embedded at full
    precision (repr round-trips doubles exactly) so both engines compute
    the identical margin."""
    feats = quality_feature_sql(col)
    margin = " + ".join(f"{f} * {wj!r}"
                        for f, wj in zip(feats, weights))
    return f"round(1.0 / (1.0 + exp(-({margin}))), {QC_SCORE_DP})"


def score_quality(docs: DataFrame, weights: list[float],
                  text_col: str = "text") -> DataFrame:
    """Map-only scoring projection (at 100 TB: no shuffle, pure codegen)."""
    return docs.withColumn("quality_score",
                           quality_score_col(F.col(text_col), weights))


def auc(scores: list[float], labels: list[int]) -> float:
    """Rank-based AUC (driver-side sanity metric for tests)."""
    order = sorted(range(len(scores)), key=lambda i: scores[i])
    ranks = [0.0] * len(scores)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and scores[order[j + 1]] == scores[order[i]]:
            j += 1
        r = (i + j) / 2.0 + 1.0
        for k in range(i, j + 1):
            ranks[order[k]] = r
        i = j + 1
    pos = [r for r, y in zip(ranks, labels) if y == 1]
    n_pos, n_neg = len(pos), len(labels) - len(pos)
    if n_pos == 0 or n_neg == 0:
        return math.nan
    return (sum(pos) - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
