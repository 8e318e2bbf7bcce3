"""Correctness checks for every timed operation.

Each check returns a list of error strings; an empty list is a pass. The
checks recompute results from the generated inputs with NumPy or with
``mbrngq_spark.oracle``, never with the operator under test.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

from mbrngq_spark import oracle

TOL = 1e-9
NGQ_ORACLE_QUERIES = 6       # sampled exact queries per NGQ call
NGQ_ORACLE_BUDGET = 2_000_000  # largest enumeration the oracle may run
KNN_ORACLE_QUERIES = 10      # sampled queries per kNN call


class Docs:
    """Column arrays of a generated doc frame whose ids are 0..n-1, so a
    doc id is its row position."""

    def __init__(self, frame: pd.DataFrame):
        if not np.array_equal(frame["doc_id"].to_numpy(),
                              np.arange(len(frame))):
            raise ValueError("doc ids must be 0..n-1")
        self.frame = frame
        self.x = frame["x"].to_numpy(np.float64)
        self.y = frame["y"].to_numpy(np.float64)
        self.cat = frame["category"].to_numpy(np.int64)

    def dist(self, qx: float, qy: float) -> np.ndarray:
        return np.sqrt((self.x - qx) ** 2 + (self.y - qy) ** 2)


def _close(a, b) -> np.ndarray:
    return np.abs(np.asarray(a) - np.asarray(b)) <= TOL * (1 + np.abs(b))


def _same_ranking(got_ids: list, got_scores, want_ids: list,
                  want_scores) -> bool:
    """Ids must match rank by rank, except that members may swap between
    ranks whose scores are equal within TOL (the engine and the oracle
    compute distances in different float orders)."""
    if len(got_ids) != len(want_ids) or not _close(got_scores,
                                                   want_scores).all():
        return False
    for r, ids in enumerate(got_ids):
        if ids == want_ids[r]:
            continue
        ties = [want_ids[j] for j in range(len(want_ids))
                if abs(want_scores[j] - got_scores[r])
                <= TOL * (1 + abs(got_scores[r]))]
        if ids not in ties:
            return False
    return True


def check_ngq(out: pd.DataFrame, docs: Docs, queries: pd.DataFrame, k: int,
              m: int, rng: np.random.Generator) -> tuple[list[str], int]:
    """Structure + member-score recomputation for every query; the brute
    force oracle for up to NGQ_ORACLE_QUERIES sampled exact queries whose
    enumeration stays within NGQ_ORACLE_BUDGET groups. The oracle
    only needs the docs within the reported k-th score of the query: a
    group's score is at least each member's distance to q (triangle
    inequality), so no better group can use a farther doc. Returns the
    errors and the number of queries the oracle checked."""
    errors: list[str] = []
    ids = [f"c{c}_id" for c in range(m)]
    want_q = set(queries["query_id"])
    if set(out["query_id"]) != want_q:
        errors.append(f"ngq: {len(want_q ^ set(out['query_id']))} "
                      "queries missing or unexpected")
    qpos = queries.set_index("query_id")
    oracle_pool = []
    for qid, g in out.groupby("query_id"):
        g = g.sort_values("group_rank")
        if list(g["group_rank"]) != list(range(1, k + 1)):
            errors.append(f"ngq q{qid}: ranks {list(g['group_rank'])}")
            continue
        if g["exact"].nunique() != 1 or g["capped"].nunique() != 1:
            errors.append(f"ngq q{qid}: exact/capped vary within query")
            continue
        if bool(g["exact"].iloc[0]) and bool(g["capped"].iloc[0]):
            errors.append(f"ngq q{qid}: capped result flagged exact")
        members = g[ids].to_numpy(np.int64)
        if (docs.cat[members] != np.arange(m)).any():
            errors.append(f"ngq q{qid}: member in wrong category")
            continue
        qx, qy = qpos.loc[qid, "qx"], qpos.loc[qid, "qy"]
        mx, my = docs.x[members], docs.y[members]
        inner = np.zeros(len(g))
        for i, j in itertools.combinations(range(m), 2):
            inner = np.maximum(inner, np.hypot(mx[:, i] - mx[:, j],
                                               my[:, i] - my[:, j]))
        inter = np.sqrt((mx - qx) ** 2 + (my - qy) ** 2).min(axis=1)
        score = g["min_dist"].to_numpy(np.float64)
        if not _close(score, inner + inter).all():
            errors.append(f"ngq q{qid}: min_dist differs from members")
        if (np.diff(score) < -TOL).any():
            errors.append(f"ngq q{qid}: min_dist not ascending")
        if bool(g["exact"].iloc[0]):
            oracle_pool.append((qid, qx, qy, g))
    checked = 0
    for i in rng.permutation(len(oracle_pool)):
        if checked == NGQ_ORACLE_QUERIES:
            break
        qid, qx, qy, g = oracle_pool[i]
        kth = float(g["min_dist"].max())
        near = docs.dist(qx, qy) <= kth * (1 + TOL) + TOL
        sizes = np.bincount(docs.cat[near], minlength=m)
        if np.prod(sizes.astype(np.float64)) > NGQ_ORACLE_BUDGET:
            continue
        want = oracle.ngq_bruteforce(docs.frame[near], qx, qy, m, k)
        got_ids = [tuple(r) for r in g[ids].to_numpy(np.int64)]
        want_ids = [tuple(r) for r in want[ids].to_numpy(np.int64)]
        if not _same_ranking(got_ids, g["min_dist"].to_numpy(),
                             want_ids, want["min_dist"].to_numpy()):
            errors.append(f"ngq q{qid}: differs from ngq_bruteforce")
        checked += 1
    return errors, checked


def check_knn(out: pd.DataFrame, docs: Docs, queries: pd.DataFrame, k: int,
              rng: np.random.Generator) -> list[str]:
    """Structure + distance recomputation for every query; the brute force
    oracle for KNN_ORACLE_QUERIES sampled queries, over the docs within
    the reported k-th distance (a superset of the true top k)."""
    errors: list[str] = []
    want_q = set(queries["query_id"])
    if set(out["query_id"]) != want_q:
        errors.append(f"knn: {len(want_q ^ set(out['query_id']))} "
                      "queries missing or unexpected")
    qpos = queries.set_index("query_id")
    groups = dict(tuple(out.groupby("query_id")))
    for qid, g in groups.items():
        g = g.sort_values("rank")
        ids = g["doc_id"].to_numpy(np.int64)
        if list(g["rank"]) != list(range(1, k + 1)) or \
                len(set(ids)) != k:
            errors.append(f"knn q{qid}: ranks or ids malformed")
            continue
        qx, qy = qpos.loc[qid, "qx"], qpos.loc[qid, "qy"]
        d = g["dist"].to_numpy(np.float64)
        if not _close(d, np.hypot(docs.x[ids] - qx, docs.y[ids] - qy)).all():
            errors.append(f"knn q{qid}: dist differs from coordinates")
        if (np.diff(d) < -TOL).any():
            errors.append(f"knn q{qid}: dist not ascending")
    sample = rng.choice(sorted(groups),
                        min(KNN_ORACLE_QUERIES, len(groups)), replace=False)
    for qid in sample:
        g = groups[qid].sort_values("rank")
        qx, qy = qpos.loc[qid, "qx"], qpos.loc[qid, "qy"]
        kth = float(g["dist"].max())
        near = docs.dist(qx, qy) <= kth * (1 + TOL) + TOL
        want = oracle.knn_bruteforce(docs.frame[near], qx, qy, k)
        if not _same_ranking(list(g["doc_id"]), g["dist"].to_numpy(),
                             list(want["doc_id"]), want["dist"].to_numpy()):
            errors.append(f"knn q{qid}: differs from knn_bruteforce")
    return errors


def shingle_sets(texts: pd.Series, n: int = 3) -> dict[int, frozenset]:
    """Distinct word n-grams per text (dedup.shingles_col semantics)."""
    out = {}
    for doc_id, text in texts.items():
        toks = text.split(" ")
        out[int(doc_id)] = frozenset(
            " ".join(toks[j:j + n]) for j in range(max(len(toks) - n + 1, 1)))
    return out


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def check_minhash(out: pd.DataFrame, shingles: dict[int, frozenset],
                  planted: list[tuple[int, int]],
                  threshold: float) -> tuple[list[str], float]:
    """Every returned pair must be ordered, unique and at or above the
    threshold with the reported Jaccard; recall is the share of planted
    pairs at or above the threshold that were returned."""
    errors: list[str] = []
    pairs = list(zip(out["id_a"].astype(int), out["id_b"].astype(int)))
    if len(set(pairs)) != len(pairs):
        errors.append("minhash: duplicate pairs")
    for (a, b), jac in zip(pairs, out["jaccard"]):
        true = jaccard(shingles[a], shingles[b])
        if a >= b or true < threshold - TOL or abs(true - jac) > TOL:
            errors.append(f"minhash ({a},{b}): jaccard {jac} vs {true}")
            break
    eligible = [p for p in planted
                if jaccard(shingles[p[0]], shingles[p[1]]) >= threshold]
    found = set(pairs)
    recall = (sum(p in found for p in eligible) / len(eligible)
              if eligible else 1.0)
    return errors, recall


def tile_rollup_expected(docs: Docs, res: int) -> pd.DataFrame:
    """Per-tile count, category mask and bounding box, row-major tile ids
    over the [0, 100] space (grid.row_major_tile_id)."""
    n = 1 << res
    ix = np.clip(np.floor(docs.x / 100.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor(docs.y / 100.0 * n), 0, n - 1).astype(np.int64)
    frame = pd.DataFrame({"tile_id": (iy << res) | ix,
                          "bit": np.left_shift(1, docs.cat),
                          "x": docs.x, "y": docs.y})
    agg = frame.groupby("tile_id").agg(
        n_docs=("x", "size"), catmask=("bit", lambda b: np.bitwise_or.reduce(
            b.to_numpy())), xmin=("x", "min"), ymin=("y", "min"),
        xmax=("x", "max"), ymax=("y", "max"))
    return agg.reset_index()


def check_tiles(out: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    got = out.sort_values("tile_id").reset_index(drop=True)
    cols = ["tile_id", "n_docs", "catmask", "xmin", "ymin", "xmax", "ymax"]
    if len(got) != len(expected):
        return [f"tiles: {len(got)} tiles, expected {len(expected)}"]
    for c in cols:
        if not np.array_equal(got[c].to_numpy(),
                              expected[c].to_numpy().astype(got[c].dtype)):
            return [f"tiles: column {c} differs"]
    return []


def simhash_sketches(texts: pd.DataFrame,
                     word_hash: dict[str, int]) -> dict[int, int]:
    """64-bit SimHash per text (dedup.simhash_col semantics): bit b is set
    iff more than half of the text's tokens have bit b set in their hash.
    ``word_hash`` maps each token to its signed 64-bit hash."""
    out = {}
    for doc_id, text in zip(texts["doc_id"], texts["text"]):
        h = np.array([word_hash[t] for t in text.split(" ")],
                     dtype=np.int64).view(np.uint64)
        bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        keep = 2 * bits.sum(axis=0) > len(h)
        out[int(doc_id)] = int(np.sum(keep.astype(np.uint64)
                                      << np.arange(64, dtype=np.uint64)))
    return out


def check_simhash(out: pd.DataFrame, sketches: dict[int, int],
                  max_hamming: int) -> list[str]:
    """Every returned pair must be ordered, unique and carry the hamming
    distance of the two sketches, at most ``max_hamming``; and every pair
    of texts within ``max_hamming`` must be returned."""
    errors: list[str] = []
    pairs = list(zip(out["id_a"].astype(int), out["id_b"].astype(int)))
    if len(set(pairs)) != len(pairs):
        errors.append("simhash: duplicate pairs")
    for (a, b), ham in zip(pairs, out["hamming"]):
        true = bin(sketches[a] ^ sketches[b]).count("1")
        if a >= b or true > max_hamming or true != ham:
            errors.append(f"simhash ({a},{b}): hamming {ham} vs {true}")
            break
    ids = np.array(sorted(sketches), dtype=np.int64)
    sk = np.array([sketches[i] for i in ids], dtype=np.uint64)
    want = set()
    for i in range(len(ids) - 1):
        x = (sk[i + 1:] ^ sk[i]).view(np.uint8).reshape(-1, 8)
        close = np.nonzero(np.unpackbits(x, axis=1).sum(axis=1)
                           <= max_hamming)[0]
        want.update((int(ids[i]), int(ids[i + 1 + j])) for j in close)
    missing = want - set(pairs)
    if missing:
        errors.append(f"simhash: {len(missing)} of {len(want)} pairs within "
                      f"hamming {max_hamming} missing")
    return errors
