"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark test starts its own session with the event log on, so run this
file in a process that has not started a JVM yet.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import inputs  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_same_seed_same_inputs_other_seed_other_inputs():
    def generate(seed):
        rng = inputs.streams(seed)
        return (inputs.make_docs(rng["docs"], 1000, "island"),
                inputs.make_queries(rng["queries"], 50, 0),
                inputs.make_texts(rng["texts"], 200, 0.3))

    a, b, c = generate(1), generate(1), generate(2)
    assert a[0].equals(b[0]) and a[1].equals(b[1]) and a[2][0].equals(b[2][0])
    assert not a[0].equals(c[0])
    assert not a[1].equals(c[1])
    assert not a[2][0].equals(c[2][0])


def test_planted_pairs_are_edited_near_duplicates():
    texts, planted = inputs.make_texts(np.random.default_rng(5), 400, 0.3)
    shingles = checks.shingle_sets(texts.set_index("doc_id")["text"])
    assert len(planted) == 120
    sims = [checks.jaccard(shingles[a], shingles[b]) for a, b in planted]
    assert max(sims) < 1.0          # every variant was edited
    assert np.mean(np.array(sims) >= 0.7) > 0.9


def test_simhash_check_recomputes_hamming_and_finds_missing_pairs():
    texts = inputs.make_texts(np.random.default_rng(9), 50, 0.5)[0]
    words = sorted(set(" ".join(texts["text"]).split(" ")))
    rng = np.random.default_rng(1)
    hashes = {w: int(h) for w, h in zip(
        words, rng.integers(-2 ** 63, 2 ** 63 - 1, len(words)))}
    sk = checks.simhash_sketches(texts, hashes)
    assert len(sk) == len(texts)
    ids = sorted(sk)
    close = [(a, b, bin(sk[a] ^ sk[b]).count("1")) for i, a in enumerate(ids)
             for b in ids[i + 1:] if bin(sk[a] ^ sk[b]).count("1") <= 3]
    assert close   # planted variants differ in one or two words
    out = pd.DataFrame(close, columns=["id_a", "id_b", "hamming"])
    assert checks.check_simhash(out, sk, 3) == []
    assert checks.check_simhash(out.iloc[1:], sk, 3)
    wrong = out.assign(hamming=out["hamming"] + 1)
    assert checks.check_simhash(wrong, sk, 3)


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid
        self.props["spark.job.description"] = desc

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_self_time_subtracts_covered_spans_and_restores_groups():
    spark = _FakeSession()
    tr = Tracer(spark, 0.0)
    with tr.span("op", 1) as op:
        with tr.span("inner", 1, op.sid) as inner:
            pass
        assert spark.sparkContext.props["spark.jobGroup.id"] == \
            f"perfbench-{op.sid}"
    assert spark.sparkContext.props["spark.jobGroup.id"] is None
    op.start, op.end, inner.start, inner.end = 0.0, 5.0, 1.0, 3.0
    op.covers = [inner.sid]
    assert tr.self_time(op) == pytest.approx(3.0)
    assert tr.self_time(inner) == pytest.approx(2.0)


def test_jobs_start_inside_the_span_that_times_them(tmp_path):
    """A call timed through its materialized result has every job inside
    its span; a lazily returned frame materialized after its span runs
    jobs in no span, which the traced run counts as a failure."""
    events = tmp_path / "events"
    events.mkdir()
    os.environ["PYTHONPATH"] = os.path.dirname(HERE)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{events} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false pyspark-shell")
    from mbrngq_spark.config import session
    from mbrngq_spark.operators import knn

    spark = session(app="perfbench-test", cores=2, shuffle_partitions=4)
    try:
        rng = inputs.streams(3)
        docs = spark.createDataFrame(
            inputs.make_docs(rng["docs"], 2000, "uniform"))
        q = inputs.make_queries(rng["queries"], 5, 0)
        tr = Tracer(spark, 0.0)
        with tr.active():
            with tr.span("op.eager", 1) as eager:
                knn.knn_join(spark, docs, q, k=3).toPandas()
            with tr.span("op.lazy", 2) as lazy:
                frame = knn.knn_join(spark, docs, q, k=3)
            frame.count()
        frame.count()   # outside the traced phase: not counted
        tr.collect_status()
    finally:
        spark.stop()
    tr.collect_event_log(str(events))
    assert eager.counts["jobs"] > 0
    assert eager.counts["jobs_outside_span"] == 0
    assert lazy.counts["jobs_outside_span"] == 0
    assert tr.ungrouped_jobs
    assert min(tr.ungrouped_jobs) >= lazy.wall_end * 1000 - 1
    assert max(tr.ungrouped_jobs) <= tr.windows[0][1] * 1000
