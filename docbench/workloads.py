"""The four workloads: set-up, timed window, output checks, metrics.

Batch workloads (``extract``, ``extract_skew``, ``dedup``) call the
shipped ``submit/run_*.py`` ``main()`` in-process, closed loop, one job
at a time, each repeat cold. ``ingest_stream`` runs
``streaming_exact_dedup(streaming_contamination(...))`` against an
open-loop generator process. See README.md for what each metric means.
"""

from __future__ import annotations

import contextlib
import gc
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from datetime import datetime, timezone
from urllib.parse import urlparse

import pyarrow.parquet as pq

import inputs
from probe import CacheSampler, HostProbe, QueryProbe, StageProbe, Tracer, persistent_rdds, plan_metrics, proc_stat

CORES = 2
MAX_REPEATS = 60
STREAM_WARMUP_S = 4.0
STREAM_TRIGGER_S = 2
STREAM_LATENCY_LIMIT_S = 4.0  # at the tail percentile: two trigger intervals


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values) -> tuple:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. With fewer than 20 samples no percentile above
    the median qualifies, and the median is reported."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return median(s), 50.0, n
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n


class Run:
    """State shared by one benchmark run."""

    def __init__(self, root, workload, seed, seconds, trace):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer(trace)
        self.host = HostProbe()
        self.metrics: dict = {}
        self.layer: dict = {}
        self.record: dict = {"workload": workload, "seed": seed, "trace": trace}
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def fail(self, what: str, n: int = 1):
        self.failed += n
        self.record.setdefault("failures", []).append(what)
        print(f"docbench: FAILED {what}", file=sys.stderr)

    def start_session(self):
        from donut_spark.sources.session import get_spark

        t = time.time()
        self.spark = get_spark(cores=CORES, app_name=f"docbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["sources.session_start_s"] = time.time() - t
        self.tracer.add("session_start", "sources", t, time.time())

    def close(self):
        """Stop Spark and wait for its JVM to exit (it exits when its
        stdin closes), then remove the run's files."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


def cold(spark, out_dir):
    """Drop every cached frame and persisted RDD, collect garbage on both
    sides and remove the previous output, so no repeat rides on state an
    earlier one left."""
    spark.catalog.clearCache()
    for rdd_id in persistent_rdds(spark):
        spark.sparkContext._jsc.sc().unpersistRDD(int(rdd_id), True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    shutil.rmtree(out_dir, ignore_errors=True)


def load_job(root, name):
    path = os.path.join(root, "submit", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"docbench_job_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def call_main(mod, argv):
    saved = sys.argv
    sys.argv = [mod.__file__] + argv
    try:
        with contextlib.redirect_stdout(sys.stderr):
            mod.main()
    finally:
        sys.argv = saved


# ---- core kernels, single-threaded ------------------------------------------------


def _per_doc_us(fn, items, budget_s=0.25) -> float:
    """Mean µs per item of ``fn`` over ``items``, repeated for at least
    ``budget_s``; the fastest pass is kept."""
    best = float("inf")
    spent = 0.0
    while spent < budget_s or best == float("inf"):
        t = time.perf_counter()
        for x in items:
            fn(x)
        dt = time.perf_counter() - t
        spent += dt
        best = min(best, dt)
    return 1e6 * best / max(len(items), 1)


def core_kernels(run, htmls, gts, texts) -> None:
    from donut_spark.core import htmlnorm, metrics, textstats, tree
    from donut_spark.streaming.stream import java_ws_shingles

    def roundtrip(gt):
        return tree.token2json(tree.json2token(json.loads(gt)))

    pairs = [(json.loads(g), roundtrip(g)) for g in gts]
    kernels = {
        "core.htmlnorm.html_to_spans_us": (htmlnorm.html_to_spans, htmls),
        "core.tree.roundtrip_us": (roundtrip, gts),
        "core.metrics.nted_us": (lambda p: metrics.nted_accuracy(p[1], p[0]), pairs),
        "core.textstats.fingerprint64_us": (textstats.fingerprint64, texts),
        "core.textstats.minhash_us": (
            lambda t: textstats.minhash_signature(textstats.word_shingles(t, 3), 64, 1), texts),
        "streaming.java_ws_shingles_us": (lambda t: java_ws_shingles(t, inputs.SHINGLE_N), texts),
    }
    for name, (fn, items) in kernels.items():
        t = time.time()
        run.layer[name] = _per_doc_us(fn, items)
        run.tracer.add(name, "core", t, time.time())


# ---- batch workloads --------------------------------------------------------------


class Batch:
    """A submit job run closed loop over a staged input."""

    job = ""
    warmup_repeats = 2  # the JVM keeps warming through the second repeat
    min_repeats = 3
    sinks: tuple = ()

    def __init__(self, run: Run):
        self.run = run
        self.input = os.path.join(run.work, "input")
        self.out = os.path.join(run.work, "out")

    def argv(self):
        return ["--input", self.input, "--output", self.out]

    def stage(self):  # write the input, keep the reference
        raise NotImplementedError

    def check(self) -> list:  # failures of the last repeat's outputs
        raise NotImplementedError

    def kernel_inputs(self) -> tuple:  # (htmls, gt_parse strings, texts)
        raise NotImplementedError

    def after_window(self, traced: list) -> None:  # extra per-layer counters
        pass


def _read(path, columns=None):
    return pq.read_table(path, columns=columns).to_pylist()


class Extract(Batch):
    job = "run_extract"
    sinks = ("data", "quarantine", "lineage")
    heavy_docs = 0
    poison = True
    eval_cols = ["exact_match", "roundtrip_ok"]

    def stage(self):
        self.ref = inputs.spans_input(self.run.seed, heavy_docs=self.heavy_docs, poison=self.poison)
        self.ref.write(self.input)
        self.n_docs = self.ref.n_docs

    def check(self) -> list:
        bad = []
        rows = _read(f"{self.out}/data", ["doc_id", "extracted"] + self.eval_cols)
        ids = [r["doc_id"] for r in rows]
        if len(ids) != len(set(ids)) or set(ids) != set(self.ref.expected):
            bad.append(f"data/ holds {len(ids)} rows, expected the {len(self.ref.expected)} good docs once each")
        wrong = [r["doc_id"] for r in rows if r["extracted"] != self.ref.expected.get(r["doc_id"])]
        for col in self.eval_cols:
            wrong += [r["doc_id"] for r in rows if r[col] != 1]
        if wrong:
            bad.append(f"{len(set(wrong))} docs extracted or evaluated wrongly, e.g. {sorted(set(wrong))[:3]}")
        quarantined = {r["doc_id"] for r in _read(f"{self.out}/quarantine", ["doc_id"])}
        if quarantined != self.ref.poison:
            bad.append(f"quarantine/ holds {sorted(quarantined)[:3]}, planted poison {sorted(self.ref.poison)[:3]}")
        n_lineage = sum(r["n_docs"] for r in _read(f"{self.out}/lineage", ["n_docs"]))
        if n_lineage != len(rows):
            bad.append(f"lineage n_docs sums to {n_lineage}, data/ has {len(rows)}")
        return bad

    def kernel_inputs(self):
        htmls, gts = [], []
        for rows in self.ref.files:
            for doc_id, spans, _exp, gt in rows[:40]:
                if doc_id not in self.ref.poison:
                    htmls += [s["text"] for s in spans if s["kind"] == "text"][:50]
                    gts.append(gt)
        texts = [" ".join(h for h in htmls[i : i + 8]) for i in range(0, len(htmls), 8)]
        return htmls, gts, texts


class ExtractSkew(Extract):
    """Span mode over the extract docs plus heavy documents."""

    heavy_docs = inputs.SKEW_HEAVY_DOCS
    poison = False
    eval_cols: list = []

    def argv(self):
        return super().argv() + ["--mode", "span"]


class Dedup(Batch):
    job = "run_dedup"
    warmup_repeats = 1  # one ~12 s repeat already covers the warm-up
    min_repeats = 1
    sinks = ("exact_dups", "hot_buckets", "pairs", "clusters", "deduped", "passages")

    def stage(self):
        self.ref = inputs.dedup_input(self.run.seed)
        self.ref.write(self.input)
        self.n_docs = len(self.ref.rows)

    def check(self) -> list:
        bad = []
        found = {(r["keeper"], r["n_dups"]) for r in _read(f"{self.out}/exact_dups", ["keeper", "n_dups"])}
        planted = {(min(c), len(c)) for c in self.ref.exact_clusters}
        if found != planted:
            bad.append(f"exact clusters: {len(planted - found)} planted missed, {len(found - planted)} extra")
        pairs = {tuple(sorted((r["a"], r["b"]))) for r in _read(f"{self.out}/pairs", ["a", "b"])}
        missed = [(a, b) for a, b, j in self.ref.near_pairs if j >= 0.8 and (a, b) not in pairs]
        if missed:
            bad.append(f"{len(missed)} planted near pairs not found, e.g. {missed[:2]}")
        kept = [r["doc_id"] for r in _read(f"{self.out}/deduped", ["doc_id"])]
        want = self.ref.survivors()
        if len(kept) != len(set(kept)) or set(kept) != want:
            lost = self.ref.uniques - set(kept)
            bad.append(f"deduped/ holds {len(kept)} rows, expected {len(want)}; {len(lost)} planted uniques removed")
        return bad

    def kernel_inputs(self):
        texts = [t for _, t in self.ref.rows[:300]]
        gts = [json.dumps({"doc": {"title": t[:20], "items": [{"nm": w} for w in t.split()[:4]]}}) for t in texts[:100]]
        return texts[:100], gts, texts

    def after_window(self, traced):
        """Stage times from the sink writes, and the LSH candidate count
        (public operators, after the timed window) for the verified-pairs
        yield."""
        from donut_spark.operators.dedup import exact_dedup, minhash_lsh_pairs

        layer = self.run.layer
        stages = {"exact": ["exact_dups"], "lsh": ["hot_buckets"], "verify": ["pairs"],
                  "components": ["clusters", "deduped"], "passages": ["passages"]}
        for stage, sinks in stages.items():
            layer[f"operators.dedup.{stage}_s"] = median([sum(_write_s(r, s) for s in sinks) for r in traced])
        pairs = len(_read(f"{self.out}/pairs", ["a"]))
        spark = self.run.spark
        try:
            docs = spark.read.parquet(self.input)
            n = minhash_lsh_pairs(exact_dedup(docs, "text", "doc_id"), "text", "doc_id",
                                  num_perm=64, bands=16, max_bucket_size=1000).count()
        except Exception:  # noqa: BLE001 — a per-layer counter must not fail the run
            traceback.print_exc()
            n = 0
        cold(spark, self.out)
        layer["operators.dedup.lsh_candidates"] = n
        layer["operators.dedup.verify_yield"] = pairs / n if n else 0.0


def _sink_name(path: str) -> str:
    return path.rstrip("/").rsplit("/", 1)[-1]


def _write_s(rec, sink) -> float:
    """Time of the queries in one traced repeat that wrote ``sink``."""
    return sum(q["dur_s"] for q in rec["queries"] if any(_sink_name(s) == sink for s in q["sinks"]))


def run_batch(run: Run, wl: Batch) -> None:
    t_setup = time.time()
    run.start_session()
    spark = run.spark
    t = time.time()
    wl.stage()
    run.layer["sources.stage_s"] = time.time() - t
    run.tracer.add("stage", "sources", t, time.time())
    job = load_job(run.root, wl.job)
    qprobe = QueryProbe(spark) if run.trace else None
    sprobe = StageProbe(spark) if run.trace else None

    def repeat(rep, traced) -> dict:
        cold(spark, wl.out)
        if traced:
            qprobe.harvest()
            sprobe.mark()
        run.tracer.enabled = traced  # untraced repeats of a traced run record nothing
        cpu0 = proc_stat()[0]
        error = None
        sampler = CacheSampler(spark) if traced else contextlib.nullcontext()
        listening = qprobe.listening() if traced else contextlib.nullcontext()
        t0 = time.time()
        try:
            with listening, sampler, run.tracer.span(f"main:{wl.job}", "submit", rep) as main_span:
                call_main(job, wl.argv())
        except Exception:  # noqa: BLE001 — a failed repeat is counted, the run goes on
            error = traceback.format_exc()
        wall = time.time() - t0
        rec = {"rep": rep, "wall_s": wall, "cpu_s": proc_stat()[0] - cpu0, "traced": traced}
        residual = persistent_rdds(spark)
        rec["residual_rdds"] = len(residual)
        run.attempted += 1
        failures = [error.strip().splitlines()[-1]] if error else []
        if residual:
            failures.append(f"{len(residual)} persisted RDDs left behind")
        if not error:
            try:
                failures += wl.check()
            except Exception as exc:  # noqa: BLE001 — unreadable output is a failed check
                failures.append(f"output unreadable: {exc!r}")
        if failures:
            run.fail(f"repeat {rep}: " + "; ".join(failures))
        if traced:
            rec["queries"] = qprobe.harvest()
            rec["stages"] = sprobe.since_mark()
            rec["cached_bytes_max"] = sampler.max_bytes
            for q in rec["queries"]:
                sink = _sink_name(q["sinks"][0]) if q["sinks"] else ""
                run.tracer.add(f"query:{q['func']}:{sink}", "submit.sink" if sink else "operators",
                               q["start"], q["end"], rep, parent=main_span.id)
        run.tracer.enabled = run.trace
        return rec

    for w in range(wl.warmup_repeats):
        repeat(-1 - w, False)
    run.metrics["setup_s"] = time.time() - t_setup

    reps: list = []
    # a traced run needs one untraced and one traced repeat at least
    min_repeats = max(wl.min_repeats, 2 if run.trace else 1)
    while len(reps) < MAX_REPEATS and (
        len(reps) < min_repeats or sum(r["wall_s"] for r in reps) < run.seconds
    ):
        reps.append(repeat(len(reps), run.trace and len(reps) % 2 == 1))

    plain = [r["wall_s"] for r in reps if not r["traced"]]
    run.metrics["docs_per_s"] = wl.n_docs / median(plain)
    p50 = median(plain)
    tail_v, tail_p, n = tail(plain)
    run.metrics["latency_s_p50"] = p50
    run.metrics["latency_s_tail"] = tail_v
    run.record.update(input_docs=wl.n_docs, repeats=len(reps), walls=[r["wall_s"] for r in reps],
                      tail_percentile=tail_p, tail_samples=n)
    run.layer["host.cpu_s_per_repeat"] = median([r["cpu_s"] for r in reps])
    run.layer["plans.cache.residual_rdds"] = max(r["residual_rdds"] for r in reps)
    if run.trace:
        batch_layers(run, wl, reps)


def batch_layers(run: Run, wl: Batch, reps: list) -> None:
    traced = [r for r in reps if r["traced"]]
    untraced_rate = wl.n_docs / median([r["wall_s"] for r in reps if not r["traced"]])
    run.layer["trace.overhead_docs_per_s"] = untraced_rate - wl.n_docs / median([r["wall_s"] for r in traced])

    def med(fn):
        return median([fn(r) for r in traced])

    def qsum(r, key):
        return sum(q[key] for q in r["queries"])

    for key in ("python_init_s", "python_exec_s", "arrow_bytes_to_python", "arrow_bytes_from_python", "udf_rows"):
        run.layer[f"functions.{key}"] = med(lambda r: qsum(r, key))
    run.layer["sources.scan_s"] = med(lambda r: qsum(r, "scan_s"))
    run.layer["sources.scan_bytes"] = med(lambda r: qsum(r, "scan_bytes"))
    run.layer["operators.exchanges"] = med(lambda r: qsum(r, "exchanges"))
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_records", "spill_bytes"):
        run.layer[f"operators.{key}"] = med(lambda r: r["stages"][key])
    run.layer["plans.skew.task_s_max"] = med(lambda r: r["stages"]["task_s_max"])
    run.layer["plans.skew.task_s_p50"] = med(lambda r: r["stages"]["task_s_p50"])
    run.layer["plans.cache.cached_bytes_max"] = max(r["cached_bytes_max"] for r in traced)
    run.layer["submit.bytes_written"] = med(lambda r: qsum(r, "bytes_written"))

    for sink in wl.sinks:
        run.layer[f"submit.write_s.{sink}"] = med(lambda r: _write_s(r, sink))
    if "lineage" in wl.sinks:
        run.layer["plans.lineage.write_s"] = run.layer["submit.write_s.lineage"]
    run.layer["submit.driver_s"] = med(lambda r: run.tracer.self_times(r["rep"]).get("submit", 0.0))
    wl.after_window(traced)
    core_kernels(run, *wl.kernel_inputs())


# ---- stream -----------------------------------------------------------------------


def _parse_ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _file_log(path: str) -> list:
    """Entries of a Spark file-source or file-sink metadata log, as
    (batch id, entry) in batch order. A compacted batch file
    (``N.compact``) repeats every earlier entry; only its new ones
    belong to batch N."""
    batches = []
    for name in os.listdir(path):
        stem = name.split(".")[0]
        if stem.isdigit() and not name.startswith("."):
            batches.append((int(stem), name))
    seen: set = set()
    out = []
    for batch, name in sorted(batches):
        with open(os.path.join(path, name)) as f:
            lines = f.read().splitlines()[1:]
        for line in lines:
            entry = json.loads(line)
            if entry["path"] not in seen:
                seen.add(entry["path"])
                out.append((batch, entry))
    return out


class _ProgressListener:
    """Walks the Python-UDF plan metrics of every odd micro-batch (the
    traced half); even batches run with no plan walk."""

    def __init__(self, jvm):
        from pyspark.sql.streaming import StreamingQueryListener

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.on_progress(event.progress.batchId)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        outer = self
        self.jvm = jvm
        self.query = None
        self.walked: dict = {}
        self.listener = L()

    def on_progress(self, batch_id):
        if self.query is None or batch_id % 2 == 0:
            return
        try:
            ex = self.query._jsq.streamingQuery().lastExecution()
            if ex is not None and int(ex.currentBatchId()) == batch_id:
                self.walked[batch_id] = plan_metrics(self.jvm, ex.executedPlan(), set())
        except Exception:  # noqa: BLE001 — the listener thread must keep running
            traceback.print_exc()


def run_stream(run: Run) -> None:
    from donut_spark.operators.dedup import benchmark_shingle_set
    from donut_spark.streaming.stream import streaming_contamination, streaming_exact_dedup

    total_s = STREAM_WARMUP_S + run.seconds
    t_setup = time.time()
    run.start_session()
    spark = run.spark
    landing, sink, ckpt = (os.path.join(run.work, d) for d in ("landing", "sink", "ckpt"))
    os.makedirs(landing)
    t = time.time()
    plan = inputs.stream_input(run.seed, total_s)
    bench = benchmark_shingle_set(
        spark.createDataFrame([(x,) for x in plan.bench_texts], "text string"), "text", n=inputs.SHINGLE_N
    )
    # the first micro-batch pays JIT compilation and Python worker
    # start-up: it runs on staged priming docs before the schedule starts
    now = datetime.fromtimestamp(time.time(), tz=timezone.utc)
    inputs.write_files(landing, [[(doc_id, text, now) for doc_id, text in plan.prime]], inputs.STREAM_SCHEMA, "prime")
    source = spark.readStream.schema("doc_id string, text string, ts timestamp").parquet(landing)
    walker = _ProgressListener(spark.sparkContext._jvm) if run.trace else None
    if walker:
        spark.streams.addListener(walker.listener)
    query = (
        streaming_exact_dedup(streaming_contamination(source, bench))
        .writeStream.format("parquet").option("path", sink).option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{STREAM_TRIGGER_S} seconds").outputMode("append").start()
    )
    if walker:
        walker.query = query
    query.processAllAvailable()
    run.layer["sources.stage_s"] = time.time() - t
    run.tracer.add("stage", "sources", t, time.time())
    sprobe = StageProbe(spark) if run.trace else None
    # processing-time triggers fire on multiples of the interval since the
    # epoch: start the schedule 0.1 s after one, so every run has the same
    # arrival-to-trigger phase
    gen_t0 = (int((time.time() + 0.5) / STREAM_TRIGGER_S) + 1) * STREAM_TRIGGER_S + 0.1
    gen_log = os.path.join(run.work, "generator.jsonl")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "stream_gen.py"),
         "--seed", str(run.seed), "--seconds", str(total_s), "--t0", repr(gen_t0),
         "--dir", landing, "--log", gen_log],
    )
    try:
        time.sleep(max(0.0, gen_t0 + STREAM_WARMUP_S - time.time()))
        run.metrics["setup_s"] = time.time() - t_setup
        cpu0 = proc_stat()[0]
        if sprobe:
            sprobe.mark()
        gen.wait(timeout=total_s + 60)
        run.layer["host.cpu_s_per_repeat"] = proc_stat()[0] - cpu0
        if sprobe:
            run.record["stages"] = sprobe.since_mark()
        drained = time.time()
        query.processAllAvailable()
        run.record["drain_s"] = time.time() - drained
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        query.stop()
        if walker:
            spark.streams.removeListener(walker.listener)
    if gen.returncode != 0:
        raise RuntimeError(f"stream generator exited with {gen.returncode}")
    progress = [json.loads(p.json) for p in query.recentProgress]
    stream_results(run, plan, progress, gen_t0, gen_log, sink, ckpt, walker)


def stream_results(run, plan, progress, gen_t0, gen_log, sink, ckpt, walker) -> None:
    warm_end = gen_t0 + STREAM_WARMUP_S
    end = warm_end + run.seconds
    batches = {}
    for p in progress:
        start = _parse_ts(p["timestamp"])
        dur = p["durationMs"]
        b = batches[p["batchId"]] = {
            "start": start, "end": start + dur.get("triggerExecution", 0) / 1e3,
            "rows": p["numInputRows"], "dur": dur, "state": p["stateOperators"],
        }
        run.tracer.add(f"batch:{p['batchId']}", "streaming", b["start"], b["end"], p["batchId"])
    measured = {i: b for i, b in batches.items() if warm_end <= b["start"] < end}
    busy = sum(b["end"] - b["start"] for b in measured.values())
    run.layer["streaming.busy_docs_per_s"] = sum(b["rows"] for b in measured.values()) / busy

    # where each landing file was read, and where each doc was emitted
    with open(gen_log) as f:
        files = [json.loads(line) for line in f]
    read_in = {os.path.basename(e["path"]): b for b, e in _file_log(os.path.join(ckpt, "sources", "0"))}
    doc_file = {doc_id: "prime-00000.parquet" for doc_id, _ in plan.prime}
    i = 0
    for entry in files:
        for doc_id, _ in plan.docs[i : i + entry["rows"]]:
            doc_file[doc_id] = entry["file"]
        i += entry["rows"]
    emitted: dict = {}
    for b, e in _file_log(os.path.join(sink, "_spark_metadata")):
        for r in pq.read_table(urlparse(e["path"]).path, columns=["doc_id", "n_hits"]).to_pylist():
            emitted.setdefault(r["doc_id"], []).append((b, r["n_hits"]))

    # correctness: first arrivals emitted once, re-arrivals dropped, hits exact
    bench = plan.bench_shingles()
    rearrival = {first: again for again, first in plan.first_of.items()}
    bad: dict = {}
    for doc_id, text in plan.prime + plan.docs:
        got = emitted.get(doc_id, [])
        if len(got) > 1:
            bad[doc_id] = "emitted twice"
        elif got and got[0][1] != plan.n_hits(text, bench):
            bad[doc_id] = f"n_hits {got[0][1]}, reference {plan.n_hits(text, bench)}"
        if doc_id in plan.first_of:
            first = plan.first_of[doc_id]
            same_batch = read_in.get(doc_file[doc_id]) == read_in.get(doc_file[first])
            if got and not (same_batch and first not in emitted):
                bad[doc_id] = "re-arrival emitted"
        elif not got:
            again = rearrival.get(doc_id)
            same_batch = again and read_in.get(doc_file[again]) == read_in.get(doc_file[doc_id])
            if not (same_batch and again in emitted):
                bad[doc_id] = "missing"
    run.attempted += len(plan.prime) + len(plan.docs)
    if bad:
        kinds = sorted({v.split(",")[0] for v in bad.values()})
        run.fail(f"{len(bad)} docs wrong ({', '.join(kinds)}), e.g. {sorted(bad.items())[:3]}", len(bad))

    # per-document latency, from the time it was due to the end of the
    # micro-batch that emitted it, for docs due in the measured window
    lat, emitted_at = [], []
    for (doc_id, _), due in zip(plan.docs, plan.due):
        if STREAM_WARMUP_S <= due and doc_id in emitted and emitted[doc_id][0][0] in batches:
            emitted_at.append(batches[emitted[doc_id][0][0]]["end"])
            lat.append(emitted_at[-1] - (gen_t0 + due))
    tail_v, tail_p, n = tail(lat)
    run.metrics["latency_s_p50"] = median(lat)
    run.metrics["latency_s_tail"] = tail_v
    # delivered throughput at the fixed offered load: the measured
    # window's docs over the time from the window's start until the last
    # of them was emitted
    run.metrics["docs_per_s"] = len(emitted_at) / (max(emitted_at) - warm_end)

    def backlog(at):
        return sum(1 for e in files if e["landed"] <= at
                   and not (e["file"] in read_in and batches.get(read_in[e["file"]], {"end": 1e30})["end"] <= at))

    backlog_start, backlog_end = backlog(warm_end), backlog(end)
    per_trigger = int(STREAM_TRIGGER_S / inputs.STREAM_TICK_S)
    run.record.update(
        batches=[(i, round(b["start"] - gen_t0, 3), round(b["end"] - b["start"], 3), b["rows"], b["dur"])
                 for i, b in sorted(batches.items())],
        rate_docs_per_s=inputs.STREAM_RATE, measured_batches=len(measured), latency_samples=n,
        tail_percentile=tail_p, tail_within_limit=tail_v <= STREAM_LATENCY_LIMIT_S,
        backlog_files_start=backlog_start, backlog_files_end=backlog_end,
        backlog_grew=backlog_end > backlog_start + per_trigger,
    )
    if run.record["backlog_grew"]:
        print(f"docbench: backlog grew {backlog_start} -> {backlog_end} files", file=sys.stderr)

    ms = list(measured.values())
    ops = [b["state"][0] for b in ms if b["state"]]
    run.layer.update({
        "streaming.batch_s_p50": median([b["end"] - b["start"] for b in ms]),
        "streaming.add_batch_s_p50": median([b["dur"].get("addBatch", 0) / 1e3 for b in ms]),
        "streaming.offsets_s_p50": median([b["dur"].get("latestOffset", 0) / 1e3 for b in ms]),
        "streaming.rows_per_batch_p50": median([b["rows"] for b in ms]),
        "streaming.state.commit_ms": median([o["commitTimeMs"] for o in ops]),
        "streaming.state.updates_ms": median([o["allUpdatesTimeMs"] for o in ops]),
        "streaming.state.rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.state.memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "streaming.dropped_duplicates": sum(
            o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
            for b in batches.values() for o in b["state"]),
        "streaming.backlog_files_end": backlog_end,
        "streaming.generator_late_s_max": max(e["landed"] - e["due"] for e in files),
    })
    if walker:
        walked = [walker.walked[i] for i in measured if i in walker.walked]
        for key in ("python_init_s", "python_exec_s", "arrow_bytes_to_python", "arrow_bytes_from_python", "udf_rows"):
            run.layer[f"functions.{key}"] = median([w[key] for w in walked])
        run.layer["sources.scan_s"] = median([w["scan_s"] for w in walked])
        run.layer["sources.scan_bytes"] = median([w["scan_bytes"] for w in walked])
        run.layer["operators.exchanges"] = median([w["exchanges"] for w in walked])
        stages = run.record.pop("stages")
        for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_records", "spill_bytes"):
            run.layer[f"operators.{key}"] = stages[key] / max(len(measured), 1)
        run.layer["plans.skew.task_s_max"] = stages["task_s_max"]
        run.layer["plans.skew.task_s_p50"] = stages["task_s_p50"]

        def rate(bs):
            return sum(b["rows"] for b in bs) / sum(b["end"] - b["start"] for b in bs) if bs else 0.0

        plain = [b for i, b in measured.items() if i not in walker.walked]
        traced = [b for i, b in measured.items() if i in walker.walked]
        run.layer["trace.overhead_docs_per_s"] = rate(plain) - rate(traced)
        texts = [t for _, t in plan.docs[:300]]
        core_kernels(run, texts[:100], [json.dumps({"doc": {"title": t[:20]}}) for t in texts[:100]], texts)
