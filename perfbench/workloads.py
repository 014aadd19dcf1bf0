"""The benchmark's workloads.  Each one makes its inputs from the seed,
prepares a session (part of every set-up), warms up while checking the
outputs, then measures a number of passes set by the requested seconds.

``measure`` returns a dict:
  pass_s    wall time of each pass over the workload's operation set
  median_pass_s   the sum over operations of each one's median latency
  attempted / failed / failures   operations tried, wrong or raised
  layers    per-layer values only this workload produces
"""

from __future__ import annotations

import datetime
import json
import os
import random
import shutil
import sys
import threading
import time
import traceback

import gen
from measure import median, percentile
from session import Residue, log

# The headline operator mix: one bench.HEADLINE query per operator family
# (scan/agg, join, window, temporal, similarity, text, iterative graph,
# near-dup graph), all with DuckDB oracles.  The full 56-query pass takes
# ~31 s warm at 4 cores, too long to repeat inside one benchmark run.
HEADLINE_MIX = (
    "pricing_summary",
    "regional_revenue",
    "top_orders_per_customer",
    "sessionize_events",
    "knn_cosine_bruteforce",
    "token_stats",
    "pagerank_trade_flow",
    "dup_graph_triangles",
)

# The rep/count-grain near-dup family.  Pair-grain members are left out:
# their output is quadratic in a hot text's copy count.
DEDUP_FAMILY = (
    "simhash_overlap_stats",
    "phash_overlap_stats",
    "dedup_connected_clusters",
    "dup_cluster_size_histogram",
    "incremental_band_dedup",
    "band_occupancy_histogram",
)

DEDUP_DOCS = 600


def _run_op(result: dict, name: str, fn) -> object:
    """Run one operation; an exception counts as a failed attempt."""
    result["attempted"] += 1
    try:
        return fn()
    except Exception:  # a failing operation is a measured outcome, not a crash
        log(f"operation {name} raised:\n{traceback.format_exc()}")
        result["failed"] += 1
        result["failures"].append(name)
        return None


def _new_result() -> dict:
    return {"pass_s": [], "median_pass_s": 0.0, "attempted": 0, "failed": 0, "failures": [],
            "layers": {}}


def _fail(result: dict, name: str, why: str) -> None:
    log(f"wrong result from {name}: {why}")
    result["failed"] += 1
    result["failures"].append(name)


def _touches_llm_ops(fn):
    """(fn(), whether any function under video_etl_spark/llm_ops ran)."""
    hit = []

    def prof(frame, event, arg):
        if event == "call" and f"{os.sep}llm_ops{os.sep}" in frame.f_code.co_filename:
            hit.append(True)
            sys.setprofile(None)

    sys.setprofile(prof)
    try:
        return fn(), bool(hit)
    finally:
        sys.setprofile(None)


class QueryWorkload:
    """Registry queries over generated parquet tables: each operation builds
    a query and forces it with a row count plus an order-insensitive digest
    of every output column, computed in one Spark job."""

    queries: tuple = ()
    first: str = ""  # the cheap query every set-up runs once
    nominal_pass_s = 5.0  # one warm pass at 4 cores, sets the pass count

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "data")
        self.rows: dict[str, int] = {}
        self.digest: dict[str, int] = {}

    @staticmethod
    def force(df) -> tuple:
        from pyspark.sql import functions as F

        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).bitwiseAND(0xFFFFFFFF)).alias("h"),
        ).first()
        return row["n"], row["h"]

    def prepare(self, ses) -> None:
        from video_etl_spark import registry

        self.force(registry.QUERIES[self.first](ses.spark, self.data))

    def warm(self, ses, result: dict) -> None:
        """One untimed pass that collects each query's output and checks it
        against the query's DuckDB oracle on the same files."""
        import duckdb

        from video_etl_spark import registry
        from video_etl_spark.oracle import compare_frames
        from video_etl_spark.session import TABLE_NAMES, table_path

        con = duckdb.connect()
        for t in TABLE_NAMES:
            if os.path.exists(table_path(self.data, t)):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.data, t)}')")
        try:
            for q in self.queries:
                fn = registry.QUERIES[q]
                frame = _run_op(result, q, lambda: fn(ses.spark, self.data).toPandas())
                if frame is None:
                    continue
                self.rows[q] = len(frame)
                if q in registry.ORACLES:
                    problems = compare_frames(frame, con.execute(registry.ORACLES[q]).fetchdf())
                    if problems:
                        _fail(result, q, "; ".join(problems[:3]))
        finally:
            con.close()

    def check(self, result: dict, q: str, n: int, digest: int) -> None:
        """A timed run must return the oracle-checked row count and the same
        digest as every other timed run of the query."""
        if n != self.rows.get(q):
            _fail(result, q, f"{n} rows, the oracle-checked output has {self.rows.get(q)}")
        elif self.digest.setdefault(q, digest) != digest:
            _fail(result, q, f"digest {digest} != {self.digest[q]} of an earlier run")

    def measure(self, ses, seconds: float, result: dict) -> None:
        """max(3, seconds / nominal_pass_s) passes over the queries, each in
        a seeded order.  The pass count follows from ``seconds``, not from a
        clock, so every run does the same work and passes at the same
        position in the session compare across runs."""
        from video_etl_spark import registry

        tr = ses.tracer
        residue = Residue(ses)
        rng = random.Random(self.seed)
        build_s = execute_s = 0.0
        per_query: dict[str, list] = {}
        for _ in range(max(3, round(seconds / self.nominal_pass_s))):
            total = 0.0
            for q in rng.sample(self.queries, len(self.queries)):
                fn = registry.QUERIES[q]

                def op():
                    with tr.span(f"query:{q}", layer="queries") as top:
                        t0 = time.perf_counter()
                        with tr.span("queries.build", layer="queries"):
                            if top is None:
                                df = fn(ses.spark, self.data)
                            else:
                                df, top["llm_ops"] = _touches_llm_ops(lambda: fn(ses.spark, self.data))
                        t1 = time.perf_counter()
                        with tr.span("queries.execute", layer="queries"):
                            got = self.force(df)
                        return got, t1 - t0, time.perf_counter() - t1

                out = _run_op(result, q, op)
                residue.check()
                if out is None:
                    continue
                got, b, x = out
                total += b + x
                build_s += b
                execute_s += x
                per_query.setdefault(q, []).append(b + x)
                self.check(result, q, *got)
            result["pass_s"].append(total)
        n = len(result["pass_s"])
        medians = {q: median(v) for q, v in per_query.items()}
        log("per-query median s: " + json.dumps({q: round(v, 3) for q, v in medians.items()}))
        # a pass made of each query's median: one slow operation does not
        # move it, a query that slows in most passes does
        result["median_pass_s"] = sum(medians.values())
        result["layers"].update({
            "queries.build_s": build_s / n,
            "queries.execute_s": execute_s / n,
            "session.residue_ops": residue.ops,
        })


class Headline(QueryWorkload):
    name = "headline"
    queries = HEADLINE_MIX
    first = "token_stats"

    def make_inputs(self) -> None:
        import bench

        missing = [q for q in self.queries if q not in bench.HEADLINE]
        if missing:
            raise SystemExit(f"queries no longer in bench.HEADLINE: {missing}")
        gen.headline_tables(self.seed, self.data)


class DedupHotkey(QueryWorkload):
    name = "dedup_hotkey"
    queries = DEDUP_FAMILY
    first = "band_occupancy_histogram"
    nominal_pass_s = 7.0

    def make_inputs(self) -> None:
        gen.documents(self.seed, self.data, DEDUP_DOCS)


class IngestPhase:
    """Open-loop crawl stream into ``streaming_ingest_curation``.

    After one warm-up file, a generator thread lands one file of
    ``DOCS_PER_FILE`` docs every ``PERIOD_S`` seconds (the schedule never
    waits for the engine) and stamps each with its creation time; then a
    backlog of ``BACKLOG_FILES`` lands at once.  Every input doc must end in
    exactly one sink and the signature index must hold survivors only."""

    DOCS_PER_FILE = 75  # ~3/4 of the ~100 docs/s drain rate at 4 cores
    PERIOD_S = 1.0
    OPEN_FILES = 5
    BACKLOG_FILES = 5
    SCHEMA = "doc_id long, text string, source string"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.base = os.path.join(work, "stream")

    def run(self, ses, result: dict) -> None:
        from video_etl_spark.streaming.curation import streaming_ingest_curation
        from video_etl_spark.streaming.decontaminate import doc_shingles

        spark = ses.spark
        d = {k: os.path.join(self.base, k) for k in
             ("bench", "landing", "staging", "index", "clean", "rejected", "ckpt")}
        for k in ("landing", "staging"):
            os.makedirs(d[k])
        texts = gen.benchmark_texts(self.seed)
        bench = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        doc_shingles(bench).select("s").distinct().write.parquet(d["bench"])

        n_files = 1 + self.OPEN_FILES + self.BACKLOG_FILES
        rows = {f: gen.crawl_batch(self.seed, f, self.DOCS_PER_FILE, texts) for f in range(n_files)}
        created: dict[int, float] = {}

        def land(f: int) -> None:
            gen.write_jsonl(os.path.join(d["landing"], f"crawl-{f:05d}.jsonl"), rows[f], d["staging"])
            created[f] = time.time()

        stream = spark.readStream.schema(self.SCHEMA).json(d["landing"])
        late: list[float] = []
        with ses.tracer.span("streaming.ingest", layer="streaming"):
            q = (streaming_ingest_curation(stream, d["index"], d["bench"], d["clean"], d["rejected"])
                 .option("checkpointLocation", d["ckpt"]).start())
            try:
                land(0)
                q.processAllAvailable()  # warm-up batch
                t0 = time.perf_counter()

                def generate():
                    for k in range(self.OPEN_FILES):
                        due = t0 + k * self.PERIOD_S
                        time.sleep(max(0.0, due - time.perf_counter()))
                        late.append(time.perf_counter() - due)
                        land(1 + k)

                g = threading.Thread(target=generate, name="crawl-generator")
                g.start()
                g.join()
                q.processAllAvailable()
                tb = time.perf_counter()
                for f in range(1 + self.OPEN_FILES, n_files):
                    land(f)
                q.processAllAvailable()
                backlog_s = time.perf_counter() - tb
                progress = list(q.recentProgress)
            finally:
                q.stop()

        # file -> micro-batch through the sinks (every doc lands in one)
        clean = dict(spark.read.parquet(d["clean"]).select("doc_id", "batch_id").collect())
        rejected = {r[0]: (r[1], r[2]) for r in spark.read.schema(
            "doc_id long, reason string, detail long, batch_id int").parquet(d["rejected"])
            .select("doc_id", "batch_id", "reason").collect()}
        index = {r[0] for r in spark.read.parquet(d["index"]).select("doc_id").collect()}
        starts, ends = {}, {}
        for p in progress:
            t = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            starts[p["batchId"]] = t
            ends[p["batchId"]] = t + p["durationMs"].get("triggerExecution", 0) / 1000.0
        latency, waits, per_batch = [], [], {}
        for f in range(n_files):
            result["attempted"] += 1
            batch, bad = None, []
            for r in rows[f]:
                doc = r["doc_id"]
                in_clean, in_rej = doc in clean, doc in rejected
                if in_clean == in_rej:
                    bad.append(f"doc {doc} in {'both sinks' if in_clean else 'neither sink'}")
                    continue
                if len(set(r["text"].split())) == 1 and rejected.get(doc, (0, ""))[1] != "quality":
                    bad.append(f"degenerate doc {doc} not rejected for quality")
                batch = clean[doc] if in_clean else rejected[doc][0]
            if bad:
                _fail(result, f"crawl-{f:05d}", "; ".join(bad[:3]))
                continue
            per_batch[batch] = per_batch.get(batch, 0) + 1
            if 1 <= f <= self.OPEN_FILES and batch in ends:
                latency.append(ends[batch] - created[f])
                waits.append(max(0.0, starts[batch] - created[f]))
        result["attempted"] += 1
        if not index <= set(clean):
            _fail(result, "signature index", f"{len(index - set(clean))} non-survivor docs")

        def tree(path):
            return [os.path.join(r, n) for r, _, ns in os.walk(path) for n in ns
                    if not n.startswith((".", "_"))]

        index_files = [p for p in tree(d["index"]) if p.endswith(".parquet")]
        written = sum(os.path.getsize(p) for k in ("index", "clean", "rejected") for p in tree(d[k]))
        landed = sum(os.path.getsize(p) for p in tree(d["landing"]))
        durations = [p["durationMs"] for p in progress if p["numInputRows"]]
        result["layers"].update({
            "streaming.batch_s": median([x.get("triggerExecution", 0) for x in durations]) / 1000.0,
            "streaming.add_batch_s": median([x.get("addBatch", 0) for x in durations]) / 1000.0,
            "streaming.queue_wait_s": median(waits) if waits else 0.0,
            "streaming.backlog_files_max": max(per_batch.values(), default=0),
            "streaming.index_files": len(index_files),
            "streaming.index_mib": sum(os.path.getsize(p) for p in index_files) / 2**20,
            "streaming.write_amp": written / landed,
            "streaming.latency_p50_s": median(latency) if latency else 0.0,
            "streaming.capacity_docs_per_s": self.BACKLOG_FILES * self.DOCS_PER_FILE / backlog_s,
            "streaming.generator_late_s": max(late, default=0.0),
        })
        shutil.rmtree(self.base, ignore_errors=True)


class ControlPhase:
    """Offline tuning over a knob lattice, then the per-chunk knob switcher
    over a seeded content trace with periodic re-plans.  The tuned best and
    Pareto set must equal a brute force over the lattice, and the decisions
    a replay of the trace through a fresh switcher."""

    N_CHUNKS = 3000
    PLANNING_INTERVAL = 60
    ETA = 0.5

    def __init__(self, seed: int, work: str):
        from video_etl_spark.control.tuner import Knob, MultiKnob

        self.seed = seed
        self.trace = gen.content_trace(seed, self.N_CHUNKS)
        detect = [15, 30, 60, 80, 120, 240]  # each divides every frames value
        acc = gen.pick(seed, 80, range(len(detect)), 1000)
        # accuracy falls as detection gets sparser; the seed perturbs the table
        self.accuracy = {k: round(0.98 - 0.1 * i - a / 20_000, 4)
                         for i, (k, a) in enumerate(zip(detect, acc))}
        self.mk = MultiKnob([Knob("detect_every", detect), Knob("cores", [1, 2, 4, 8]),
                             Knob("frames", [240, 480])])
        self.starts = [[240, 1, 240], [15, 8, 480], [60, 4, 240]]

    def _eval_fn(self):
        accuracy = self.accuracy

        def eval_fn(assignment):
            from video_etl_spark.control.simulator import detect_to_track, simulate

            knob, cores, frames = assignment
            runtime, _cloud = simulate(detect_to_track(knob, frames), cores=cores)
            return accuracy[knob], runtime / 1e5

        return eval_fn

    def _switcher(self):
        from video_etl_spark.control.buffer import ProcessingBuffer
        from video_etl_spark.control.switcher import KnobSwitcher, Profile

        quality = [[0.95, 0.8, 0.6, 0.4, 0.2], [0.9, 0.7, 0.5, 0.3, 0.15],
                   [0.7, 0.55, 0.4, 0.25, 0.1], [0.4, 0.3, 0.2, 0.1, 0.05]]
        profile = Profile(
            runtime=(3.2, 2.1, 1.4, 0.9, 0.4, 1.6, 1.1, 0.7, 0.5, 0.2),
            cloud_cost=(0.0,) * 5 + (2.5, 1.8, 1.2, 0.8, 0.4),
            knob_config=(0, 1, 2, 3, 4) * 2,
            size_bytes=(4e6, 3e6, 2e6, 1.5e6, 1e6) * 2,
        )
        return KnobSwitcher(quality, profile, ProcessingBuffer(4e7, profile.config_sizes()),
                            cloud_budget=50.0, planning_interval=self.PLANNING_INTERVAL,
                            initial_histogram=[1.0] * 4, plan_ahead_hours=0.5)

    def _expected_tuning(self):
        """Brute force over the lattice: the best assignment and the Pareto set."""
        fn = self._eval_fn()
        rows = [(self.mk.hash(a), *fn(list(a))) for a in self.mk.enumerate()]
        best = min(rows, key=lambda r: (-(r[1] - self.ETA * r[2]), r[0]))
        pareto = {h for h, a, c in rows
                  if not any(a2 >= a and c2 <= c and (a2 > a or c2 < c) for _, a2, c2 in rows)}
        return best[0], pareto

    def _tune(self, ses):
        from video_etl_spark.control.tuner import run_tuning_pipeline

        out = run_tuning_pipeline(ses.spark, self.mk, self._eval_fn(), eta=self.ETA, starts=self.starts)
        return out["best"]["assign_hash"], {r["assign_hash"] for r in out["pareto"].collect()}

    def run(self, ses, result: dict) -> None:
        expected = self._expected_tuning()
        replay = self._switcher()
        decisions = [replay.switch(s) for s in self.trace]
        tr = ses.tracer
        with tr.span("control.tune", layer="control"):
            t0 = time.perf_counter()
            got = _run_op(result, "run_tuning_pipeline", lambda: self._tune(ses))
            tuning_s = time.perf_counter() - t0
        if got is not None and got != expected:
            _fail(result, "run_tuning_pipeline", f"best/pareto {got} != brute force {expected}")
        sw = self._switcher()
        clock = time.perf_counter
        switch_s, plan_s = [], []
        with tr.span("control.switch", layer="control"):
            for k, s in enumerate(self.trace):
                t0 = clock()
                d = sw.switch(s)
                switch_s.append(clock() - t0)
                result["attempted"] += 1
                if d != decisions[k]:
                    _fail(result, f"switch chunk {k}", f"{d} != replay {decisions[k]}")
        with tr.span("control.plan", layer="control"):
            for _ in range(self.N_CHUNKS // self.PLANNING_INTERVAL):
                t0 = clock()
                sw.planner.plan([0.25] * 4, sw.budget)
                plan_s.append(clock() - t0)
        result["layers"].update({
            "control.switch_us": percentile(switch_s, 99) * 1e6,
            "control.plan_ms": median(plan_s) * 1e3,
            "control.tuning_s": tuning_s,
        })


WORKLOADS = {w.name: w for w in (Headline, DedupHotkey)}
PHASES = (IngestPhase, ControlPhase)
