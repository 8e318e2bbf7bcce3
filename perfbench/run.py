"""Benchmark of the mbrngq_spark operators, end to end and layer by layer.

    python3 perfbench/run.py --workload uniform_queries --seed 1 \
        --seconds 10 --trace 0

One driver process runs the public operator functions on local[nproc] as
a single closed-loop client: each call starts when the previous one has
returned its materialized result. A query cycle calls

    ngq_batch   ngq.nearest_group, pandas query batch (driver-planned path)
    knn_batch   knn.knn_join, pandas query batch
    ngq_bulk    ngq.nearest_group, DataFrame query batch (distributed path)
    knn_batch   again, on the next batch

and the traced run adds the corpus-build operations

    index       index.build_index + index.write_index to local parquet
    tiles       tiles.tile_rollup over index.read_index of that table
    minhash     dedup.near_duplicates_minhash over the texts
    simhash     dedup.simhash_near_dups over the texts

Every result is checked (checks.py) after its timer stops; an operation
that raises or fails its check counts in ``failed``. Set-up is timed as
``setup_s``: session start, the median of SETUP_REPS input generations
(docs, caching, reference results) and one warm-up call per operation on
queries outside the measured set. With ``--trace 0`` the run makes the
workload's number of query cycles, and more while fewer than
``--seconds`` have passed; the end-to-end metrics are medians over the
calls. With ``--trace 1`` the run makes an untraced, a traced and another
untraced query cycle, then the traced corpus-build operations: spans,
Spark job counts and layer replays (README.md) give the per-layer
metrics, and the traced query cycle minus the mean of the untraced ones
is the tracing overhead. The last line of standard output is the JSON
result.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up is timed from interpreter start

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Sizes keep one untraced run near a minute on 4 cores, set-up included:
# Spark's fixed cost of 1-5 s per call dominates every operation here.
# ``cycles`` is the least number of measured query cycles per run (an
# island cycle costs about twice a uniform one); every run makes
# the same calls in the same order, so the JIT speed-up of repeated calls
# is the same in every run.
WORKLOADS = {
    "uniform_queries": dict(shape="uniform", docs=100_000, batch=196,
                            bulk=324, cycles=3, texts=2000, dup_share=0.1),
    "island_queries": dict(shape="island", docs=100_000, batch=64,
                           bulk=64, cycles=2, texts=2000, dup_share=0.4),
}
# One warm-up call per operation takes the first-call costs (codegen, JIT,
# Python worker start); the measured calls keep speeding up a little
# after it.
WARM = dict(queries=9, docs=5_000, texts=200)
# The data set-up is repeated and setup_s counts its median (the first
# repetition also pays class loading in the JVM).
SETUP_REPS = 3
K = 10                 # groups / neighbours per query (EngineConfig.k)
THRESHOLD = 0.7        # MinHash Jaccard threshold
MAX_HAMMING = 3        # SimHash near-duplicate distance
WARM_QUERY_ID = 1 << 40  # warm-up query ids never collide with measured ones
DOCS_SCHEMA = "doc_id long, x double, y double, category int"

END_TO_END = {
    "setup_s": "s", "ngq_batch_s": "s", "knn_batch_s": "s",
    "ngq_bulk_qps": "1/s",
}
PER_LAYER = {
    "knn.planner_stats_s": "s", "knn.planner_stats_rows": "count",
    "knn.planner_res": "count", "knn.plan_cells_s": "s",
    "knn.plan_cells_rows": "count", "knn.plan_cells_distributed_s": "s",
    "ngq.candidate_topL_s": "s", "ngq.candidate_rows_per_query": "count",
    "ngq.candidate_useful_ratio": "ratio", "ngq.refine_round_s": "s",
    "ngq.refine_py_s": "s", "ngq.escalation_s": "s",
    "ngq.exact_frac": "ratio", "ngq.capped_frac": "ratio",
    "knn.candidates_s": "s", "knn.useful_ratio": "ratio",
    "index.docs_per_s": "1/s", "index.build_s": "s", "index.write_s": "s",
    "index.hot_cells": "count", "tiles.docs_per_s": "1/s",
    "tiles.rollup_s": "s", "dedup.minhash_docs_per_s": "1/s",
    "dedup.signatures_s": "s", "dedup.lsh_pairs_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_ratio": "ratio", "dedup.recall": "ratio",
    "dedup.simhash_s": "s", "dedup.simhash_docs_per_s": "1/s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.shuffle_write_bytes": "B",
    "jvm.peak_rss_mb": "MB", "trace.overhead_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(out_dir: str, trace: bool) -> str:
    """Keep every file Spark and its workers write inside ``out_dir``;
    returns the event log directory (traced runs only log events)."""
    tmp = os.path.join(out_dir, "tmp")
    events = os.path.join(out_dir, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{events}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])
    return events


class Bench:
    """Inputs, reference results and the timed operations of one run."""

    def __init__(self, spark, workload: str, seed: int, out_dir: str):
        self.spark = spark
        self.wl = WORKLOADS[workload]
        self.out_dir = out_dir
        self.seed = seed
        self.next_qid = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op_total = 0.0
        self.layer: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.queries_seen = self.queries_inexact = 0
        self.oracle_checked = 0
        self.tracer = None

    # -- set-up ------------------------------------------------------------
    def setup(self, corpus_build: bool, reps: int) -> float:
        """Generate and cache the docs and the query-check references; with
        ``corpus_build`` also the texts and the corpus-build references.
        Done ``reps`` times from the same seed (each repetition replaces
        the last one's cached frames); returns the median seconds."""
        seconds = []
        for _ in range(reps):
            t = time.perf_counter()
            self._setup_once(corpus_build)
            seconds.append(time.perf_counter() - t)
        return statistics.median(seconds)

    def _setup_once(self, corpus_build: bool) -> None:
        import checks
        import inputs
        from mbrngq_spark.config import DEFAULT

        wl, rng = self.wl, inputs.streams(self.seed)
        self.cfg = DEFAULT
        self.rng = rng
        self.check_rng = rng["checks"]
        for old in ("docs_df", "warm_docs_df", "texts_df"):
            if hasattr(self, old):
                getattr(self, old).unpersist()
        docs = inputs.make_docs(rng["docs"], wl["docs"], wl["shape"])
        self.docs = checks.Docs(docs)
        self.docs_df = self._cached(docs, DOCS_SCHEMA)
        self.n_docs = len(docs)
        self.warm_docs_df = self._cached(
            inputs.make_docs(rng["warmup"], WARM["docs"], wl["shape"]),
            DOCS_SCHEMA)
        self.warm_queries = inputs.make_queries(rng["warmup"],
                                                WARM["queries"],
                                                WARM_QUERY_ID)
        if not corpus_build:
            return
        texts, self.planted = inputs.make_texts(rng["texts"], wl["texts"],
                                                wl["dup_share"])
        self.texts_df = self._cached(texts, "doc_id long, text string")
        self.n_texts = len(texts)
        self.shingles = checks.shingle_sets(texts.set_index("doc_id")["text"])
        self.sketches = checks.simhash_sketches(
            texts, self._word_hashes(inputs.VOCAB))
        self.tiles_expected = checks.tile_rollup_expected(self.docs,
                                                          DEFAULT.tile_res)
        warm_texts, _ = inputs.make_texts(rng["warmup"], WARM["texts"],
                                          wl["dup_share"])
        self.warm_texts_df = self.spark.createDataFrame(warm_texts)

    def _word_hashes(self, words) -> dict[str, int]:
        """Spark's xxhash64 of each word, the token hash SimHash sums."""
        from pyspark.sql import functions as F
        rows = self.spark.createDataFrame([(w,) for w in words], "w string") \
            .select("w", F.xxhash64("w").alias("h")).collect()
        return {r["w"]: r["h"] for r in rows}

    def _cached(self, frame, schema: str):
        df = self.spark.createDataFrame(frame, schema).cache()
        df.count()
        return df

    def warm_up(self, corpus_build: bool) -> None:
        """One call of every operation that will be measured, on small docs
        and on queries (and for corpus building, texts) outside the
        measured set, so that codegen, JIT and Python worker start-up land
        in set-up (warming up on the measured docs cost 3-4 s more and did
        not make the next calls faster)."""
        from mbrngq_spark.operators import knn, ngq

        spark, docs, q = self.spark, self.warm_docs_df, self.warm_queries
        ngq.nearest_group(spark, docs, q, k=K).toPandas()
        knn.knn_join(spark, docs, q, k=K).toPandas()
        ngq.nearest_group(spark, docs, spark.createDataFrame(q),
                          k=K).toPandas()
        if not corpus_build:
            return
        from mbrngq_spark import index as mindex
        from mbrngq_spark.operators import dedup, tiles
        path = os.path.join(self.out_dir, "warm_index")
        mindex.write_index(mindex.build_index(self.warm_docs_df)[0], path)
        tiles.tile_rollup(mindex.read_index(spark, path)).toPandas()
        dedup.near_duplicates_minhash(self.warm_texts_df,
                                      threshold=THRESHOLD).toPandas()
        dedup.simhash_near_dups(self.warm_texts_df,
                                max_hamming=MAX_HAMMING).toPandas()

    # -- the measured operations --------------------------------------------
    def query_cycle(self) -> float:
        """Run the query operations once, each kNN call after an NGQ one;
        returns the seconds they took, excluding checks and replays."""
        before = self.op_total
        self.ngq_batch()
        self.knn_batch()
        self.ngq_bulk()
        self.knn_batch()
        return self.op_total - before

    def corpus_build(self) -> None:
        self.index()
        self.tiles()
        self.minhash()
        self.simhash()

    def _queries(self, n: int):
        import inputs
        q = inputs.make_queries(self.rng["queries"], n, self.next_qid)
        self.next_qid += n
        return q

    def _run(self, name: str, call, check, replay=None):
        """Time ``call`` (which must return materialized output), then
        check it; with a tracer the call runs in an ``op.<name>`` span and
        ``replay(out, span)`` records the layer spans under it. Returns
        (seconds, output), or None if the operation failed."""
        self.attempted += 1
        rid = self.attempted
        try:
            if self.tracer is None:
                t = time.perf_counter()
                out = call()
                dt = time.perf_counter() - t
                errors = check(out)
            else:
                with self.tracer.span(f"op.{name}", rid) as sp:
                    out = call()
                dt = sp.duration
                with self._span(f"check.{name}", sp):
                    errors = check(out)
                if replay is not None:
                    replay(out, sp)
        except Exception:  # one failed operation must not end the run
            traceback.print_exc()
            self.failed += 1
            return None
        self.op_total += dt
        if errors:
            print(f"{name}: check failed: {errors[:5]}", file=sys.stderr)
            self.failed += 1
            return None
        return dt, out

    def _span(self, name: str, parent, covers=()):
        return self.tracer.span(name, parent.rid, parent.sid,
                                tuple(c.sid for c in covers))

    def _check_ngq(self, q):
        import checks

        def check(out):
            errors, n = checks.check_ngq(out, self.docs, q, K, self.cfg.m,
                                         self.check_rng)
            self.oracle_checked += n
            per_query = out.groupby("query_id")["exact"].first()
            self.queries_seen += len(per_query)
            self.queries_inexact += int((~per_query).sum())
            return errors
        return check

    def _check_knn(self, q):
        import checks
        return lambda out: checks.check_knn(out, self.docs, q, K,
                                            self.check_rng)

    def ngq_batch(self) -> None:
        from mbrngq_spark.operators import ngq
        q = self._queries(self.wl["batch"])
        res = self._run(
            "ngq_batch",
            lambda: ngq.nearest_group(self.spark, self.docs_df, q,
                                      k=K).toPandas(),
            self._check_ngq(q), lambda out, sp: self._replay_ngq(q, out, sp))
        if res:
            self.samples["ngq_batch_s"].append(res[0])

    def _replay_ngq(self, q, out, sp) -> None:
        from mbrngq_spark.operators import knn, ngq
        spark, docs, L = self.spark, self.docs_df, self.cfg.ngq_candidates
        self.layer["ngq.refine_py_s"] = _profiled_seconds(spark, "refine")
        with self._span("knn.planner_stats", sp) as ps:
            stats, res = knn.planner_stats(docs, None, L)
        with self._span("knn.plan_cells", sp) as pc:
            plan = knn.plan_candidate_cells(stats, q, L, res,
                                            per_category=True)
        with self._span("ngq.candidate_topL", sp, (pc,)) as ct:
            rows = _noop_rows(ngq.candidate_topL(spark, docs, q, L, res,
                                                 stats=stats))
        with self._span("ngq.round1", sp, (ps, ct)) as r1:
            ngq.nearest_group(spark, docs, q, k=K, max_rounds=1).toPandas()
        sp.covers = [r1.sid]
        tr = self.tracer
        members = out[[f"c{c}_id" for c in range(self.cfg.m)]]
        distinct = sum(len(set(g.to_numpy().ravel()))
                       for _, g in members.groupby(out["query_id"]))
        per_query = out.groupby("query_id")[["exact", "capped"]].first()
        self.layer.update({
            "knn.planner_stats_s": ps.duration,
            "knn.planner_stats_rows": len(stats), "knn.planner_res": res,
            "knn.plan_cells_s": pc.duration, "knn.plan_cells_rows": len(plan),
            "ngq.candidate_topL_s": tr.self_time(ct),
            "ngq.candidate_rows_per_query": rows / len(q),
            "ngq.candidate_useful_ratio": distinct / rows,
            "ngq.refine_round_s": tr.self_time(r1),
            "ngq.escalation_s": tr.self_time(sp),
            "ngq.exact_frac": float(per_query["exact"].mean()),
            "ngq.capped_frac": float(per_query["capped"].mean()),
        })
        self.ngq_batch_span = sp

    def ngq_bulk(self) -> None:
        from mbrngq_spark.operators import knn, ngq
        q = self._queries(self.wl["bulk"])
        qdf = self.spark.createDataFrame(q)

        def replay(out, sp):
            L = self.cfg.ngq_candidates
            with self._span("knn.planner_stats", sp) as ps:
                stats, res = knn.planner_stats(self.docs_df, None, L)
            with self._span("knn.plan_cells_distributed", sp) as pd_:
                _noop_rows(knn.plan_cells_distributed(
                    self.spark, stats, qdf, L, res, per_category=True))
            sp.covers = [ps.sid, pd_.sid]
            self.layer["knn.plan_cells_distributed_s"] = pd_.duration

        res = self._run(
            "ngq_bulk",
            lambda: ngq.nearest_group(self.spark, self.docs_df, qdf,
                                      k=K).toPandas(),
            self._check_ngq(q), replay)
        if res:
            self.samples["ngq_bulk_qps"].append(len(q) / res[0])

    def knn_batch(self) -> None:
        from mbrngq_spark.operators import knn
        q = self._queries(self.wl["batch"])

        def replay(out, sp):
            with self._span("knn.planner_stats", sp) as ps:
                knn.planner_stats(self.docs_df, None, K)
            with self._span("knn.candidates", sp, (ps,)) as kc:
                rows = _noop_rows(knn.knn_candidates(self.spark,
                                                     self.docs_df, q, K))
            sp.covers = [kc.sid]
            self.layer["knn.candidates_s"] = self.tracer.self_time(kc)
            self.layer["knn.useful_ratio"] = K * len(q) / rows

        res = self._run(
            "knn_batch",
            lambda: knn.knn_join(self.spark, self.docs_df, q,
                                 k=K).toPandas(),
            self._check_knn(q), replay)
        if res:
            self.samples["knn_batch_s"].append(res[0])

    def index(self) -> None:
        from mbrngq_spark import index as mindex
        path = os.path.join(self.out_dir, "index")
        parts = {}

        def call():  # corpus-build ops run traced only
            op = self.tracer.spans[-1]  # the op span _run just opened
            with self._span("index.build_index", op) as b:
                indexed, parts["stats"] = mindex.build_index(self.docs_df)
            with self._span("index.write_index", op) as w:
                mindex.write_index(indexed, path)
            parts["spans"] = (b, w)
            return None

        def check(_):
            n = mindex.read_index(self.spark, path).count()
            return [] if n == self.n_docs else [f"index: {n} rows written"]

        def replay(_, sp):
            from pyspark.sql import functions as F
            b, w = parts["spans"]
            sp.covers = [b.sid, w.sid]
            hot = mindex.IndexLayout().hot_threshold
            with self._span("index.hot_cells", sp):
                n_hot = parts["stats"].filter(F.col("n") > hot).count()
            self.layer.update({"index.build_s": b.duration,
                               "index.write_s": w.duration,
                               "index.hot_cells": n_hot})

        res = self._run("index", call, check, replay)
        if res:
            self.layer["index.docs_per_s"] = self.n_docs / res[0]

    def tiles(self) -> None:
        import checks
        from mbrngq_spark import index as mindex
        from mbrngq_spark.operators import tiles
        path = os.path.join(self.out_dir, "index")

        res = self._run(
            "tiles",
            lambda: tiles.tile_rollup(mindex.read_index(self.spark,
                                                        path)).toPandas(),
            lambda out: checks.check_tiles(out, self.tiles_expected))
        if res:
            self.layer["tiles.rollup_s"] = res[0]
            self.layer["tiles.docs_per_s"] = self.n_docs / res[0]

    def minhash(self) -> None:
        import checks
        from mbrngq_spark.operators import dedup
        recall = []

        def check(out):
            errors, r = checks.check_minhash(out, self.shingles,
                                             self.planted, THRESHOLD)
            recall.append(r)
            return errors

        def replay(out, sp):
            sigs = dedup.minhash_signatures(self.texts_df).persist()
            try:
                with self._span("dedup.signatures", sp) as s:
                    sigs.count()
                with self._span("dedup.lsh_pairs", sp) as lp:
                    n_cand = dedup.lsh_candidate_pairs(sigs).count()
            finally:
                sigs.unpersist()
            sp.covers = [s.sid, lp.sid]
            self.layer.update({
                "dedup.signatures_s": s.duration,
                "dedup.lsh_pairs_s": lp.duration,
                "dedup.candidate_pairs": n_cand,
                "dedup.verified_pairs": len(out),
                "dedup.verify_ratio": len(out) / max(n_cand, 1)})

        res = self._run(
            "minhash",
            lambda: dedup.near_duplicates_minhash(
                self.texts_df, threshold=THRESHOLD).toPandas(),
            check, replay)
        if res:
            self.layer["dedup.minhash_docs_per_s"] = self.n_texts / res[0]
            self.layer["dedup.recall"] = recall[-1]

    def simhash(self) -> None:
        import checks
        from mbrngq_spark.operators import dedup

        res = self._run(
            "simhash",
            lambda: dedup.simhash_near_dups(
                self.texts_df, max_hamming=MAX_HAMMING).toPandas(),
            lambda out: checks.check_simhash(out, self.sketches,
                                             MAX_HAMMING))
        if res:
            self.layer["dedup.simhash_s"] = res[0]
            self.layer["dedup.simhash_docs_per_s"] = self.n_texts / res[0]


def _noop_rows(df) -> int:
    """Execute ``df`` into the noop sink and return its row count, taken
    by an observation on the same job (no second action)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation("perfbench_rows")
    df.observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def _profiled_seconds(spark, function: str) -> float:
    """Cumulative seconds inside Python function ``function`` across all
    UDF profiles collected since the last clear (summed over workers)."""
    total = 0.0
    for stats in spark._profiler_collector._perf_profile_results.values():
        for (_, _, name), (_, _, _, cum, _) in stats.stats.items():
            if name == function:
                total += cum
    return total


def tail(values: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return f"n={n}, no percentile has 10 samples beyond it"
    v = sorted(values)
    return f"n={n}, p{100 * (n - 10) / n:.0f}={v[n - 11]:.4g}"


def stop_spark(spark) -> None:
    """Stop the context and wait until the JVM has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mbrngq_spark")):
        print(f"perfbench: no mbrngq_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tag = f"{args.workload}-seed{args.seed}" + ("-trace" if args.trace else "")
    out_dir = os.path.join(HERE, "out", tag)
    shutil.rmtree(out_dir, ignore_errors=True)
    events = configure_env(out_dir, bool(args.trace))

    from mbrngq_spark.config import session
    from tracing import RssMonitor, Tracer

    spark = session(app="perfbench", cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    bench = Bench(spark, args.workload, args.seed, out_dir)
    try:
        rss = RssMonitor() if args.trace else contextlib.nullcontext()
        with rss:
            spark.range(1).count()  # the JVM's first job is part of start
            session_s = time.perf_counter() - T0
            inputs_s = bench.setup(corpus_build=bool(args.trace),
                                   reps=1 if args.trace else SETUP_REPS)
            t = time.perf_counter()
            bench.warm_up(corpus_build=bool(args.trace))
            warm_s = time.perf_counter() - t
            setup_s = session_s + inputs_s + warm_s
            t = time.perf_counter()
            if args.trace:
                # untraced, traced, untraced: comparing the traced cycle
                # with the mean of its neighbours cancels the steady
                # speed-up of repeated calls (JIT) from the overhead
                tracer = Tracer(spark, T0)
                before = bench.query_cycle()
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                spark.profile.clear()
                bench.tracer = tracer
                with tracer.active():
                    traced = bench.query_cycle()
                bench.tracer = None
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
                after = bench.query_cycle()
                bench.layer["trace.overhead_s"] = traced - (before + after) / 2
                bench.tracer = tracer
                with tracer.active():
                    bench.corpus_build()
                tracer.collect_status()
            else:
                for _ in range(bench.wl["cycles"]):
                    bench.query_cycle()
                while time.perf_counter() - t < args.seconds:
                    bench.query_cycle()
            measured_s = time.perf_counter() - t
    finally:
        stop_spark(spark)

    metrics: dict[str, float] = {}
    if args.trace:
        tr = bench.tracer
        tr.collect_event_log(events)
        tr.write(os.path.join(out_dir, "spans.json"))
        escaped = len(tr.ungrouped_jobs) + sum(
            sp.counts["jobs_outside_span"] for sp in tr.spans)
        if escaped:
            print(f"{escaped} Spark jobs ran outside the span that should "
                  "time them", file=sys.stderr)
            bench.failed += 1
        sp = getattr(bench, "ngq_batch_span", None)
        if sp is not None:
            for c in ("jobs", "stages", "tasks", "failed_tasks",
                      "shuffle_write_bytes"):
                bench.layer[f"spark.{c}"] = sp.counts[c]
        bench.layer["jvm.peak_rss_mb"] = rss.peak_bytes / 2 ** 20
        for name in PER_LAYER:
            if name in bench.layer:
                metrics[name] = bench.layer[name]
        print(f"# spans: {os.path.join(out_dir, 'spans.json')}")
        for s in tr.spans:
            print(f"# {s.sid:3d} {s.name:28s} parent={s.parent} "
                  f"dur={s.duration:.4f}s self={tr.self_time(s):.4f}s "
                  f"jobs={s.counts.get('jobs')}")
    else:
        metrics["setup_s"] = setup_s
        for name, values in bench.samples.items():
            metrics[name] = statistics.median(values)
        print(f"# {args.workload} seed={args.seed} measured "
              f"{measured_s:.1f}s, set-up {setup_s:.1f}s (session "
              f"{session_s:.1f}s, inputs {inputs_s:.1f}s median of "
              f"{SETUP_REPS}, warm-up {warm_s:.1f}s)")
        for name, values in bench.samples.items():
            print(f"# {name:22s} {metrics[name]:.6g} {END_TO_END[name]} "
                  f"({tail(values)}; "
                  f"{' '.join(f'{v:.4g}' for v in values)})")
        inexact = bench.queries_inexact / max(bench.queries_seen, 1)
        print(f"# ngq_inexact_frac       {inexact:.6g} ratio "
              f"({bench.queries_seen} queries, {bench.oracle_checked} "
              f"checked against ngq_bruteforce)")
    print(f"# failed_ops_frac        "
          f"{bench.failed / max(bench.attempted, 1):.6g} ratio "
          f"({bench.failed} of {bench.attempted})")
    for d in ("tmp", "index", "warm_index"):
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": units[n]}
                    for n, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
