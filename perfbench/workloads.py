"""The two workloads. Each one: set up (timed as ``setup_s``), run a
closed loop of whole rounds (``query``: warm up, then passes until the
run's seconds are spent; ``curation``: one cold campaign), then check
every output against an independent computation.

A ``Run`` collects what the workload did; ``run.py`` turns it into
metrics. Only the program's public entry points are called:
``streaming.start_*``, ``functions.influxql.parse`` / ``influxql`` and
the catalogs, the ``operators`` registry, and ``tableformat.SnapshotTable``.
"""

from __future__ import annotations

import os
import time
import traceback

import gen
import probes

# PERFBENCH_TINY=1 shrinks the inputs for the smoke tests only
TINY = bool(os.environ.get("PERFBENCH_TINY"))
INGEST_ROUNDS = 2
ROUND_MSGS = 2_000 if TINY else 10_000
CURATION_DOCS = 200 if TINY else 600
# a fresh JVM's InfluxQL pass time falls over the first ~3 passes
WARMUP_PASSES = 1 if TINY else 3
CAMPAIGN = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_quality",
    "text_bm25",
    "sim_knn_exact",
    "sim_ann_ivf",
    "pipeline_dedup_mix",
]
# MinHash/LSH and IVF are approximate: recall floors against the exact answers
MINHASH_RECALL = 0.9
IVF_RECALL = 0.5


class Run:
    def __init__(self, spark, tracer, tree):
        self.spark, self.tracer, self.tree = spark, tracer, tree
        self.latencies: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.timed_s = 0.0
        self.heap_retained = 0
        self.cpu0 = self.cpu1 = None
        self.first_round_jobs = (-1, -1)
        self.rounds = 0

    def op(self, fn, *args):
        """One operation of the closed loop; an exception is a failed op."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            self.failed += 1
            self.problems.append(f"{getattr(fn, '__name__', fn)}: {exc!r}"[:400])
            traceback.print_exc()
            return None

    def check(self, problems: list[str]) -> None:
        """An output check is one operation; a failed check is a failed op."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems

    def timed(self, seconds: float, round_fn) -> None:
        """Closed loop: whole rounds until ``seconds`` have passed."""
        self.cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        first = True
        while first or time.perf_counter() - t0 < seconds:
            j0 = probes.max_job_id(self.spark) if first and self.tracer.enabled else None
            round_fn()
            self.rounds += 1
            if j0 is not None:
                self.first_round_jobs = (j0, probes.max_job_id(self.spark))
            first = False
        self.timed_s = time.perf_counter() - t0
        self.cpu1 = self.tree.cpu()
        # peak RSS covers set-up and the timed phase, not the checks
        # (DuckDB, pandas and numpy in this process) that follow
        self.tree.sample_rss()
        self.tree.close()
        self.heap_retained = probes.heap_after_gc(self.spark)


def _add(d: dict, key: str, v: float) -> None:
    d[key] = d.get(key, 0.0) + v


# ---------------------------------------------------------------------------
# query: the ingest job builds the lake, then a closed loop of InfluxQL
# ---------------------------------------------------------------------------


class IngestJob:
    """The reference's job in availableNow mode: every round lands one
    frame file and restarts the four queries from their checkpoints."""

    def __init__(self, run: Run, work: str, bootstrap_path: str):
        from mqtt_influx_storage_service_spark import streaming

        self.streaming = streaming
        self.run = run
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "lake")
        self.ck = os.path.join(work, "checkpoints")
        self.registry_dir = os.path.join(work, "registry")
        self.transducer_dir = os.path.join(work, "transducers")
        os.makedirs(self.src)
        self.bootstrap = run.spark.read.parquet(bootstrap_path)
        self.query_names: dict[str, str] = {}

    def round(self, staged: str) -> None:
        s, tr, run = self.streaming, self.run.tracer, self.run
        os.replace(staged, os.path.join(self.src, os.path.basename(staged)))
        with tr.span("streaming.start_registry_cdc") as sp1:
            q_reg = s.start_registry_cdc(
                run.spark, self.src, self.registry_dir, os.path.join(self.ck, "registry"),
                bootstrap=self.bootstrap,
            )
        with tr.span("streaming.start_transducer_autocreate") as sp2:
            q_tr = s.start_transducer_autocreate(
                run.spark, self.src, self.transducer_dir, os.path.join(self.ck, "transducers")
            )
        with tr.span("streaming.start_stats") as sp3:
            q_st = s.start_stats(run.spark, self.src, self.out, os.path.join(self.ck, "stats"))
        with tr.span("streaming.start_ingest"):
            q_pts = s.start_ingest(
                run.spark, self.src, self.out, os.path.join(self.ck, "ingest"),
                devices=self.bootstrap,
            )
        for q in (q_reg, q_tr, q_st, q_pts):
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"query {q.name or q.id} failed: {q.exception()}")
        self.query_names[str(q_pts.id)] = "points"
        self.query_names[str(q_st.id)] = "stats"
        _add(run.layer, "streaming.start_s", sp1.seconds + sp2.seconds + sp3.seconds)


STREAM_QUERIES = ["points", "dead_letter", "registry_cdc", "transducer_autocreate", "stats"]


def streaming_layer(run: Run, listener, job: IngestJob) -> None:
    """Per-query phase totals from the listener's progress events."""
    from mqtt_influx_storage_service_spark.tableformat import SnapshotTable

    for q in STREAM_QUERIES:
        for key in [*probes.PHASES.values(), "batches"]:
            run.layer.setdefault(f"streaming.{q}.{key}", 0.0)
    last_state = {}
    for ev in listener.events:
        name = ev["name"] or job.query_names.get(ev["id"])
        if name not in STREAM_QUERIES:
            continue
        _add(run.layer, f"streaming.{name}.batches", 1)
        for phase, key in probes.PHASES.items():
            _add(run.layer, f"streaming.{name}.{key}", ev["durations"].get(phase, 0) / 1e3)
        if name == "points":
            _add(run.layer, "streaming.input_rows", ev["input_rows"])
        if name == "stats":
            last_state = ev
    run.layer["streaming.state_rows"] = last_state.get("state_rows", 0)
    run.layer["streaming.state_bytes"] = last_state.get("state_bytes", 0)
    files = size = 0
    for sink in ("points", "dead_letter", "stats"):
        for root, dirs, names in os.walk(os.path.join(job.out, sink)):
            dirs[:] = [d for d in dirs if d != "_spark_metadata"]
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    run.layer["streaming.sink_files"] = files
    run.layer["streaming.sink_bytes"] = size
    versions = written = 0
    for d, keys in ((job.registry_dir, ["device_id"]), (job.transducer_dir, ["device_id", "transducer"])):
        versions += SnapshotTable(run.spark, d, keys).version()
        for root, _dirs, names in os.walk(d):
            written += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    run.layer["tableformat.versions"] = versions
    run.layer["tableformat.bytes_written"] = written


def timed_merges(run: Run):
    """Wrap SnapshotTable.merge so the traced run sees its time. Returns
    an undo function."""
    from mqtt_influx_storage_service_spark import tableformat

    orig = tableformat.SnapshotTable.merge

    def merge(self, *a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(self, *a, **kw)
        finally:
            _add(run.layer, "tableformat.merge_s", time.perf_counter() - t0)

    tableformat.SnapshotTable.merge = merge
    return lambda: setattr(tableformat.SnapshotTable, "merge", orig)


def query_workload(run: Run, work: str, seed: int, seconds: float, inputs) -> None:
    from mqtt_influx_storage_service_spark.functions import influxql as iq

    import checks

    staged, truth, mix = inputs
    listener = None
    undo = lambda: None  # noqa: E731
    if run.tracer.enabled:
        listener = probes.make_progress_listener()
        run.spark.streams.addListener(listener)
        undo = timed_merges(run)
        run.layer["tableformat.merge_s"] = 0.0
    job = IngestJob(run, work, os.path.join(work, "bootstrap.parquet"))
    for path in staged:
        job.round(path)
    undo()
    points_dir = os.path.join(job.out, "points")
    with run.tracer.span("influxql.catalogs") as sp:
        narrow = iq.PointsCatalog(run.spark, points_dir)
        wide = iq.WidePointsCatalog(run.spark, points_dir)
    run.layer["influxql.catalog_s"] = sp.seconds
    catalogs = {"narrow": narrow, "wide": wide}

    def statement(st: dict):
        tr = run.tracer
        t0 = time.perf_counter()
        with tr.span("influxql.statement"):
            if tr.enabled:
                with tr.span("influxql.parse") as sp:
                    iq.parse(st["q"])
                _add(run.layer, "influxql.parse_s", sp.seconds)
            with tr.span("influxql.influxql") as sc:
                df = iq.influxql(run.spark, "", st["q"], catalog=catalogs[st["layout"]])
            if tr.enabled:
                # influxql() parses again; its compile share is the rest
                _add(run.layer, "influxql.compile_s", max(0.0, sc.seconds - sp.seconds))
                _add(run.layer, "influxql.jobs_at_build", probes.jobs_in_group(run.spark, sc.group))
                with tr.span("catalyst.plan") as sp:
                    df._jdf.queryExecution().executedPlan()
                _add(run.layer, "catalyst.plan_s", sp.seconds)
            with tr.span("exec.collect"):
                pdf = df.toPandas()
        run.latencies.append(time.perf_counter() - t0)
        run.items += 1
        return pdf

    def one_pass(keep: dict | None = None):
        for i, st in enumerate(mix):
            pdf = run.op(statement, st)
            if keep is not None and pdf is not None:
                keep[i] = pdf

    # warm-up: passes of the same mix, on the same lake
    for _ in range(WARMUP_PASSES):
        one_pass()
    run.latencies.clear()
    run.items = run.attempted = run.failed = 0
    run.problems.clear()
    for k in ("influxql.parse_s", "influxql.compile_s", "influxql.jobs_at_build", "catalyst.plan_s"):
        run.layer[k] = 0.0
    run.setup_done = time.perf_counter()

    results: dict = {}
    first = [True]

    def round_fn():
        one_pass(results if first[0] else None)
        first[0] = False

    run.timed(seconds, round_fn)
    if run.tracer.enabled:
        # per-statement layer totals scaled to one pass, so traced counts
        # repeat exactly however many passes a run makes
        n = len(mix)
        for k in ("influxql.parse_s", "influxql.compile_s", "influxql.jobs_at_build", "catalyst.plan_s"):
            run.layer[k] *= n / run.items
        if listener is not None:
            streaming_layer(run, listener, job)
    # -- checks, after the timed phase ------------------------------------
    run.check(checks.check_ingest(truth, job.out, job.registry_dir, job.transducer_dir))
    con = checks.twin_connection(points_dir)
    for i, st in enumerate(mix):
        if i not in results:
            continue  # the statement failed and is already counted
        want = con.execute(checks.twin_sql(st)).df()
        probs = checks.compare_frames(results[i], want)
        run.check([f"{st['kind']} [{st['q']}]: {p}" for p in probs])
    # the lake's row counts; equal to the generator's record, since the
    # ingest check above fails otherwise
    run.layer["streaming.points_rows"] = sum(truth.points.values())
    run.layer["streaming.dead_letter_rows"] = sum(truth.dead.values())


def query_inputs(work: str, seed: int):
    """Generate the frames (staged, not yet visible to the program), the
    bootstrap snapshot, the replayed truth and the statement mix."""
    import pyarrow.parquet as pq

    import checks

    fleet = gen.Fleet(seed)
    os.makedirs(os.path.join(work, "staged"))
    pq.write_table(fleet.bootstrap_table(), os.path.join(work, "bootstrap.parquet"))
    frames, staged = [], []
    for r in range(INGEST_ROUNDS):
        tb = gen.frame_round(fleet, seed, r, ROUND_MSGS)
        path = os.path.join(work, "staged", f"frames-{r:04d}.parquet")
        gen.write_frames(tb, path)
        frames.append(tb)
        staged.append(path)
    truth = checks.IngestTruth(frames, fleet)
    float_series = sorted(
        {k[0] for k in truth.points if k[0].endswith(("_tempc", "_humidity"))}
    )
    mix = gen.statement_mix(fleet, seed, INGEST_ROUNDS, float_series)
    return staged, truth, mix


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def curation_inputs(work: str, seed: int):
    main = os.path.join(work, "corpus")
    docs, emb, planted = gen.write_corpus(seed, CURATION_DOCS, main)
    return main, docs, emb, planted


def curation_workload(run: Run, work: str, seed: int, seconds: float, inputs) -> None:
    from mqtt_influx_storage_service_spark import operators

    import checks

    main, docs, emb, planted = inputs
    registry = operators.all_queries()
    tr = run.tracer

    def call(name: str, sf_dir: str):
        with tr.span(f"operators.{name}"):
            with tr.span("operators.build") as sp:
                df = registry[name](run.spark, sf_dir)
            if tr.enabled:
                _add(run.layer, "operators.build_s", sp.seconds)
                _add(run.layer, "operators.jobs_at_build", probes.jobs_in_group(run.spark, sp.group))
                with tr.span("catalyst.plan") as pl:
                    df._jdf.queryExecution().executedPlan()
                _add(run.layer, "catalyst.plan_s", pl.seconds)
            with tr.span("exec.collect"):
                return df.toPandas()

    # No warm-up: a campaign is a batch job, and its users pay JIT,
    # codegen and Python-worker start-up on every run (see README).
    run.setup_done = time.perf_counter()

    results: dict = {}

    def campaign():
        # the operation the client waits for is the whole campaign: the
        # median of seven unlike operator calls jumps between operators
        t0 = time.perf_counter()
        for name in CAMPAIGN:
            pdf = run.op(call, name, main)
            if pdf is not None:
                results[name] = pdf
        run.latencies.append(time.perf_counter() - t0)
        if tr.enabled:
            run.layer["cache.resident_bytes"] = probes.cache_resident_bytes(run.spark)
        run.items += len(docs)

    # exactly one round: a cold campaign takes longer than a run's
    # seconds, and a second one would find the campaign caches warm
    run.timed(0, campaign)
    # -- checks -----------------------------------------------------------
    if "dedup_ngram_jaccard" in results:
        run.check(checks.check_jaccard(results["dedup_ngram_jaccard"], docs, planted))
    if "sim_knn_exact" in results:
        run.check(checks.check_knn(results["sim_knn_exact"], emb))
    if "dedup_minhash_lsh" in results and "dedup_ngram_jaccard" in results:
        j = results["dedup_ngram_jaccard"]
        m = results["dedup_minhash_lsh"]
        run.check(checks.check_recall(
            "minhash_lsh",
            set(zip(m["doc_a"], m["doc_b"])),
            set(zip(j["doc_a"], j["doc_b"])),
            MINHASH_RECALL,
        ))
    if "sim_ann_ivf" in results:
        run.check(checks.check_ivf(results["sim_ann_ivf"], emb, IVF_RECALL))
    for name in ("text_quality", "text_bm25", "pipeline_dedup_mix"):
        if name in results:
            run.check([] if len(results[name]) else [f"{name}: empty result"])
