"""The benchmark's workloads. Each is a closed loop with one client: an op
starts only after the previous one returned.

A workload function takes a ``Ctx`` and returns an ``Outcome``: the
end-to-end metrics of the untraced run, the per-layer metrics of the traced
run (``ctx.trace``), and the number of ops attempted and failed. Every op's
output is checked; a failing check counts the op as failed and is reported,
it never aborts the run.

Layers are measured from outside: spans wrap calls into each module's
public functions, and each layer's output is forced at the span boundary
(``localCheckpoint(eager=True)``, ``collect``), because Spark is lazy and an
untouched call only builds a plan.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from core import (
    SPAN_COUNTERS,
    Tracer,
    eventlog_counters,
    percentile,
    reportable,
    samples_beyond,
    tree_cpu_s,
    tree_hwm_mb,
)
from inputs import match_lists, reference_strings, request_pool

# Input sizes. ER corpora come from sources.corpus.generate_corpus (12
# lines per doc); copies per entity cycle 1..max_copies, so er-default's
# 800 entities make 2,000 docs. At that size cosine_join.score plus
# mapside.candidates take ~45% of a traced pipeline.run's wall and ~68% of
# its executor time (README.md); at 750 docs the per-stage checkpoint and
# job overhead took most of it.
ER_SIZES = {
    "er-default": {"n_entities": 800, "max_copies": 4, "scale_knobs": False},
    "er-scale": {"n_entities": 1000, "max_copies": 8, "scale_knobs": True},
}
# The ER warm-up op runs on the docs of the first 1/ER_WARMUP_SHARE of the
# entities (all copy counts): it starts the Python workers and compiles the
# pipeline's plans, which is most of what makes a first op slow, in ~25 s
# on 4 cores against ~39 s for a cold op on the whole corpus.
ER_WARMUP_SHARE = 4
# A request is 64 variants against a 2,000-string index, whose to_mat
# incremental_match broadcasts on every call. A request takes ~0.6 s on 4
# cores, so a 10 s run times about 15, not the 100 that would put ten
# beyond p90: 100 would not fit the time budget.
SERVE = {"refs": 2000, "batch": 64, "pool": 100, "min_requests": 10,
         "warmup": 2, "traced_requests": 10, "check_every": 2}
API = {"n_to": 2000, "n_from": 64}
# Input preparations per run; setup_s is their median. The first is cold.
SETUP_REPS = {"er": 5, "serve": 3, "api": 3}

SPANS = (
    "mapside.minhash", "mapside.candidates", "mapside.fit_idf",
    "mapside.vectorize", "cosine_join.score", "topk", "linkage.cc",
    "pipeline.run", "incremental.build_index", "incremental.request",
    "api.match", "api.group", "api.collect",
)

# (name, unit, better): printed by every untraced run, in this order.
# n/a where a workload has no such figure.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("latency_p50_ms", "ms", "lower"),
    ("latency_p90_ms", "ms", "lower"),
    ("cpu_s_per_kdoc", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("bcubed_f1", "ratio", "higher"),
    ("top1_accuracy", "ratio", "higher"),
    ("failed_frac", "ratio", "lower"),
)
# The machine-read result: defined on every workload, never 0, and steady
# across seeds on a shared 4-core box (spread 0.02-0.12 over ten seeds).
# docs_per_s and latency_p50_ms are printed but not gated: when other
# processes loaded the box, an ER op took 36 s instead of 21 s while its CPU
# did not move.
GATED = ("setup_s", "cpu_s_per_kdoc", "peak_rss_mb")

# (name, unit, better) of the traced run. A layer the workload does not call
# reads 0.
PER_LAYER = (
    ("mapside.minhash_s", "s", "lower"),
    ("mapside.band_rows", "count", "lower"),
    ("mapside.candidates_s", "s", "lower"),
    ("mapside.candidate_pairs", "count", "lower"),
    ("mapside.pairs_per_doc", "ratio", "lower"),
    ("mapside.pair_precision", "ratio", "higher"),
    ("mapside.pair_recall", "ratio", "higher"),
    ("mapside.fit_idf_s", "s", "lower"),
    ("mapside.vocab_terms", "count", "lower"),
    ("mapside.vectorize_s", "s", "lower"),
    ("mapside.nnz", "count", "lower"),
    ("cosine_join.score_s", "s", "lower"),
    ("cosine_join.pairs_per_s", "1/s", "higher"),
    ("cosine_join.kept_frac", "ratio", "higher"),
    ("topk.s", "s", "lower"),
    ("topk.rows_out", "count", "lower"),
    ("linkage.cc_s", "s", "lower"),
    ("linkage.edges", "count", "lower"),
    ("linkage.components", "count", "lower"),
    ("linkage.max_component", "count", "lower"),
    ("linkage.iterations", "count", "lower"),
    ("pipeline.ckpt_mb_per_input_mb", "ratio", "lower"),
    ("pipeline.unattributed_s", "s", "lower"),
    ("incremental.build_index_s", "s", "lower"),
    ("incremental.index_mb", "MB", "lower"),
    ("incremental.jobs_per_request", "count", "lower"),
    ("incremental.exec_frac", "ratio", "higher"),
    ("api.match_s", "s", "lower"),
    ("api.group_s", "s", "lower"),
    ("api.collect_s", "s", "lower"),
    ("api.jobs_per_call", "count", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.gc_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
) + tuple(
    (f"{span}.{c}", "s" if c == "task_s" else
     "MB" if c.endswith("_mb") else "count", "lower")
    for span in SPANS for c in SPAN_COUNTERS
)


@dataclass
class Ctx:
    work: Path   # per-run scratch, removed at exit
    seed: int
    seconds: float
    trace: bool
    cpus: int
    spark: object = None
    tracer: Tracer = field(default_factory=Tracer)
    start_s: float = 0.0
    attempted: int = 0
    failed: int = 0

    def start_session(self, eventlog: bool = False) -> float:
        """Start the SparkSession on local[cpus]; returns its wall. The
        traced session logs events into ``work/eventlog``. The driver heap
        is pre-touched at its full size, so the JVM's resident set does not
        depend on when the collector grows the heap."""
        from polyfuzz_spark.session import get_spark

        tmp = self.work / "tmp"
        conf = {"spark.driver.extraJavaOptions":
                "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false"}
        if eventlog:
            (self.work / "eventlog").mkdir(exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        dt = time.monotonic() - t0
        self.tracer.sc = self.spark.sparkContext if eventlog else None
        return dt

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.sc = None

    def gc_s(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def attempt(self, what: str, fn):
        """Run one op; an exception or a failed check counts it as failed
        and is reported on stderr. Returns fn's result or None."""
        self.attempted += 1
        try:
            out = fn()
        except Exception:  # the run must go on and report what it measured
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{what}: raised")
            return None
        return out

    def fail(self, problem: str) -> None:
        self.failed += 1
        print(f"perfbench: check failed: {problem}", file=sys.stderr)


@dataclass
class Outcome:
    e2e: dict
    layers: dict


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _setup(ctx: Ctx, prepare, reps: int) -> tuple[float, object]:
    """Start the session (the JVM launch, ``ctx.start_s``; with the event
    log on in a traced run), then prepare the inputs ``reps`` times.
    Returns (median preparation wall, what the last preparation
    returned)."""
    ctx.start_s = ctx.start_session(eventlog=ctx.trace)
    walls, prepared = [], None
    for rep in range(reps):
        t0 = time.monotonic()
        prepared = prepare(rep)
        walls.append(time.monotonic() - t0)
    _log(f"JVM launch {ctx.start_s:.2f} s, input preparations "
         + " ".join(f"{w:.2f}" for w in walls) + " s")
    return float(np.median(walls)), prepared


def _timed_loop(ctx: Ctx, op, min_ops: int) -> dict:
    """Closed loop: run ``op`` (returning docs handled, or None on failure)
    until ``ctx.seconds`` are covered and at least ``min_ops`` ran; an op
    expected to end past the window is not started."""
    lat, docs = [], 0
    cpu0, t0 = tree_cpu_s(), time.monotonic()
    while True:
        t = time.monotonic()
        n = op(len(lat))
        lat.append(time.monotonic() - t)
        docs += n or 0
        elapsed = time.monotonic() - t0
        if len(lat) >= min_ops and elapsed + float(np.mean(lat)) > ctx.seconds:
            break
    wall = time.monotonic() - t0
    cpu = tree_cpu_s() - cpu0
    _log(f"{len(lat)} timed ops in {wall:.2f} s: "
         + " ".join(f"{x:.3f}" for x in lat))
    return {"lat": lat, "docs": docs, "wall": wall, "cpu": cpu}


def _e2e(ctx: Ctx, setup_s: float, loop: dict, **quality) -> dict:
    lat_ms = [x * 1e3 for x in loop["lat"]]
    n = len(lat_ms)
    out = {
        "setup_s": setup_s,
        "docs_per_s": loop["docs"] / loop["wall"],
        "latency_p50_ms": percentile(lat_ms, 50),
        "latency_p90_ms": percentile(lat_ms, 90) if reportable(n, 90)
        else None,
        "cpu_s_per_kdoc": loop["cpu"] / max(loop["docs"] / 1e3, 1e-9),
        "peak_rss_mb": tree_hwm_mb(),
        "bcubed_f1": None,
        "top1_accuracy": None,
        "failed_frac": ctx.failed / max(ctx.attempted, 1),
        "_samples": n,
        "_beyond_p90": samples_beyond(n, 90),
    }
    out.update(quality)
    return out


def bcubed_f1(cluster_of: dict, label_of: dict) -> float:
    """B-cubed F1 over the items of ``label_of``; an item without a cluster
    is its own singleton."""
    clusters: dict = {}
    labels: dict = {}
    for item, lab in label_of.items():
        clusters.setdefault(cluster_of.get(item, ("single", item)),
                            set()).add(item)
        labels.setdefault(lab, set()).add(item)
    p = r = 0.0
    for item, lab in label_of.items():
        c = clusters[cluster_of.get(item, ("single", item))]
        both = len(c & labels[lab])
        p += both / len(c)
        r += both / len(labels[lab])
    p, r = p / len(label_of), r / len(label_of)
    return 2 * p * r / (p + r) if p + r else 0.0


def _du_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


def _span_layers(ctx: Ctx) -> dict:
    """Per-span Spark counters from the event log of the traced session
    (read after it stopped, when the log is complete)."""
    names = {f"span-{s['id']}": s["name"] for s in ctx.tracer.spans}
    counters = eventlog_counters(str(ctx.work / "eventlog"), names)
    out = {}
    for span in SPANS:
        for c in SPAN_COUNTERS:
            out[f"{span}.{c}"] = counters.get(span, {}).get(c, 0.0)
    return out


# ------------------------------------------------------------------ ER
# The operators ERPipeline.run calls, by the names plans.pipeline imports
# them under, and the span each is timed in. During the traced op each name
# is rebound to a wrapper that opens the span and forces the result at the
# boundary, so the layer spans nest inside the measured pipeline.run span.
ER_OPERATORS = {
    "minhash_bands_mapside": "mapside.minhash",
    "candidates_from_bands": "mapside.candidates",
    "fit_idf_mapside": "mapside.fit_idf",
    "vectorize_packed_mapside": "mapside.vectorize",
    "score_candidates_packed": "cosine_join.score",
    "top_n_matches": "topk",
    "attach_to_keys": "topk",
    "connected_components": "linkage.cc",
}
ER_LAYER_SECONDS = (
    ("mapside.minhash", "mapside.minhash_s"),
    ("mapside.candidates", "mapside.candidates_s"),
    ("mapside.fit_idf", "mapside.fit_idf_s"),
    ("mapside.vectorize", "mapside.vectorize_s"),
    ("cosine_join.score", "cosine_join.score_s"),
    ("topk", "topk.s"),
    ("linkage.cc", "linkage.cc_s"),
)


def _force(out):
    """Materialize an operator's lazy result (a DataFrame, or a TfidfModel's
    IDF table) and return the materialized value for the caller to use."""
    from polyfuzz_spark.operators.tfidf import TfidfModel

    if isinstance(out, TfidfModel):
        return TfidfModel(out.idf.localCheckpoint(eager=True), out.n_docs,
                          out.config)
    return out.localCheckpoint(eager=True)


@contextmanager
def _spans_in_pipeline(tr: Tracer, outputs: dict):
    """While open, the ``ER_OPERATORS`` names in polyfuzz_spark.plans.pipeline
    are span-opening, output-forcing wrappers. ``outputs`` collects each
    operator's forced result, plus the edges connected_components was given
    and the ``stats`` it filled, for the layer counts read afterwards."""
    from polyfuzz_spark.plans import pipeline

    def wrap(name, span, fn):
        def traced(*args, **kwargs):
            if name == "connected_components":
                outputs["edges"] = args[0] if args else kwargs["edges"]
                kwargs["stats"] = outputs["cc_stats"] = {}
            with tr.span(span):
                out = _force(fn(*args, **kwargs))
            outputs[name] = out
            return out
        return traced

    saved = {name: getattr(pipeline, name) for name in ER_OPERATORS}
    try:
        for name, span in ER_OPERATORS.items():
            setattr(pipeline, name, wrap(name, span, saved[name]))
        yield
    finally:
        for name, fn in saved.items():
            setattr(pipeline, name, fn)


def _er(ctx: Ctx, workload: str) -> Outcome:
    from pyspark.sql import functions as F

    from polyfuzz_spark.operators.adaptive import SCALE_KNOBS
    from polyfuzz_spark.plans.pipeline import ERConfig, ERPipeline
    from polyfuzz_spark.sources.corpus import generate_corpus

    size = ER_SIZES[workload]
    cfg = ERConfig(**SCALE_KNOBS) if size["scale_knobs"] else ERConfig()
    er_dir = ctx.work / "er"

    def prepare(rep):
        path = er_dir / f"corpus-{rep}"
        generate_corpus(
            ctx.spark, size["n_entities"], max_copies=size["max_copies"],
            n_lines=12, seed=ctx.seed,
        ).write.parquet(str(path))
        return path

    setup_s, corpus_path = _setup(ctx, prepare, SETUP_REPS["er"])
    labels = {
        r["doc_id"]: r["entity_id"]
        for r in ctx.spark.read.parquet(str(corpus_path))
        .select("doc_id", "entity_id").collect()
    }
    warm_entities = size["n_entities"] // ER_WARMUP_SHARE
    warm_docs = sum(1 for e in labels.values() if e < warm_entities)
    seen = {}  # docs -> (candidates, survivors) of the first op that size
    last = {}  # the last successful full op's (run_dir, summary)

    def run_op(k: int, warm_up: bool):
        run_dir = er_dir / f"op-{k}"
        corpus = ctx.spark.read.parquet(str(corpus_path))
        if warm_up:
            corpus = corpus.where(F.col("entity_id") < warm_entities)
        summary = ERPipeline(ctx.spark, str(run_dir), cfg).run(corpus)
        return run_dir, summary

    def check(k: int, summary, n_docs: int) -> bool:
        ing, sur = summary["ingest"], summary["survivors"]
        problems = []
        if ing.get("sha256_violations") != 0:
            problems.append(f"sha256_violations={ing.get('sha256_violations')}")
        if ing["rows"] != n_docs:
            problems.append(f"ingest rows {ing['rows']} != corpus {n_docs}")
        if sur["rows"] != ing["rows"] - sur.get("rows_dropped", -1):
            problems.append("survivors != ingest - rows_dropped")
        got = (summary["candidates"]["rows"], sur["rows"])
        if seen.setdefault(n_docs, got) != got:
            problems.append(f"(candidates, survivors) {got} != first op "
                            f"{seen[n_docs]}")
        if problems:
            ctx.fail(f"{workload} op {k}: " + "; ".join(problems))
        return not problems

    def op(k: int, tag: str, warm_up: bool = False):
        t0 = time.monotonic()
        res = ctx.attempt(f"{workload} {tag} op {k}",
                          lambda: run_op(k, warm_up))
        _log(f"{workload} {tag} op {k}: {time.monotonic() - t0:.2f} s"
             + (f", {res[1]['candidates']['rows']} candidate pairs"
                if res else ""))
        n_docs = warm_docs if warm_up else len(labels)
        if res is None or not check(k, res[1], n_docs):
            return None
        if not warm_up:
            last["op"] = res
        return n_docs

    op(0, "warm-up", warm_up=True)
    if ctx.trace:
        return _er_traced(ctx, workload, cfg, corpus_path, labels, op, last)
    loop = _timed_loop(ctx, lambda i: op(1 + i, "timed"), min_ops=1)

    b3 = 0.0
    if last:
        run_dir, _ = last["op"]
        clusters = ctx.spark.read.parquet(str(run_dir / "clusters")).select(
            "doc_id", "cluster_id").collect()
        b3 = bcubed_f1({r["doc_id"]: r["cluster_id"] for r in clusters},
                       labels)
    return Outcome(_e2e(ctx, setup_s, loop, bcubed_f1=b3), {})


def _er_traced(ctx: Ctx, workload, cfg, corpus_path, labels, op,
               last) -> Outcome:
    """One untraced op, then one op with the layer spans inside it."""
    t0 = time.monotonic()
    op(1, "untraced")
    untraced_wall = time.monotonic() - t0
    tr, outputs = ctx.tracer, {}
    tr.op = "er-traced"
    with tr.span("pipeline.run") as run, _spans_in_pipeline(tr, outputs):
        op(2, "traced")
    wall = run["end"] - run["start"]
    layers = [s for s in tr.spans if s["parent"] == run["id"]]
    L = {key: tr.total(span) for span, key in ER_LAYER_SECONDS}
    L["pipeline.unattributed_s"] = wall - sum(s["end"] - s["start"]
                                              for s in layers)
    L["trace.overhead_frac"] = wall / untraced_wall - 1
    if "op" in last:
        run_dir, _ = last["op"]
        L["pipeline.ckpt_mb_per_input_mb"] = (
            _du_mb(run_dir) / _du_mb(corpus_path))
    missing = sorted(set(ER_OPERATORS) - set(outputs))
    if missing:
        ctx.fail(f"{workload} traced op: ERPipeline.run called none of "
                 f"{missing}")
    else:
        ctx.attempt(f"{workload} layer counts", lambda: L.update(
            _er_layer_counts(ctx.spark, cfg, outputs, labels, tr)))
    return _traced_outcome(ctx, L)


def _er_layer_counts(spark, cfg, out: dict, labels: dict,
                     tr: Tracer) -> dict:
    """Counts of the traced op's forced layer outputs, read after the op."""
    from pyspark.sql import functions as F

    L = {"mapside.band_rows": out["minhash_bands_mapside"].count()}
    cands = out["candidates_from_bands"]
    n_cands = cands.count()
    L["mapside.candidate_pairs"] = n_cands
    L["mapside.pairs_per_doc"] = n_cands / len(labels)
    # same-entity share of the candidates, and of all same-entity pairs
    lab = spark.createDataFrame(
        [(int(d), int(e)) for d, e in labels.items()],
        "doc_id long, entity_id long",
    )
    same = (
        cands.join(lab.toDF("from_id", "fe"), "from_id")
        .join(lab.toDF("to_id", "te"), "to_id")
        .where(F.col("fe") == F.col("te")).count()
    )
    sizes = np.bincount(np.unique(list(labels.values()),
                                  return_inverse=True)[1])
    true_pairs = int((sizes * (sizes - 1) // 2).sum())
    L["mapside.pair_precision"] = same / n_cands if n_cands else 0.0
    L["mapside.pair_recall"] = same / true_pairs if true_pairs else 0.0
    L["mapside.vocab_terms"] = out["fit_idf_mapside"].idf.count()
    L["mapside.nnz"] = out["vectorize_packed_mapside"].select(
        F.sum(F.size("t"))).first()[0]
    scores = out["score_candidates_packed"]
    n_scored = scores.count()
    L["cosine_join.pairs_per_s"] = n_scored / tr.total("cosine_join.score")
    L["cosine_join.kept_frac"] = (
        scores.where(F.col("sim") >= cfg.min_similarity).count() / n_scored
        if n_scored else 0.0
    )
    L["topk.rows_out"] = out["attach_to_keys"].count()
    L["linkage.edges"] = out["edges"].count()
    comp = out["connected_components"].groupBy("cluster_id").count()
    L["linkage.components"] = comp.count()
    L["linkage.max_component"] = comp.agg(F.max("count")).first()[0] or 0
    L["linkage.iterations"] = out["cc_stats"].get("iterations", 0)
    return L


def _traced_outcome(ctx: Ctx, L: dict) -> Outcome:
    L["session.start_s"] = ctx.start_s
    L["session.gc_s"] = ctx.gc_s()
    ctx.stop_session()
    L.update(_span_layers(ctx))
    return Outcome({}, L)


def er_default(ctx: Ctx) -> Outcome:
    return _er(ctx, "er-default")


def er_scale(ctx: Ctx) -> Outcome:
    return _er(ctx, "er-scale")


# --------------------------------------------------------------- serve
def _dense_top1(ix, keys: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(best cosine per key, all cosines) from a dense numpy cosine against
    ``TfidfIndex.to_mat``, vectorizing with the index's own vocabulary."""
    from polyfuzz_spark.functions.pygrams import doc_grams_py

    Q = np.zeros((len(keys), len(ix.idf)))
    for i, key in enumerate(keys):
        for g in doc_grams_py(key, ix.config):
            tid = ix.term_to_tid.get(g)
            if tid is not None:
                Q[i, tid] += 1.0
    Q *= ix.idf
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    sims = Q @ ix.to_mat.T
    best = sims.max(axis=1)
    return best, sims


def serve_stream(ctx: Ctx) -> Outcome:
    import pandas as pd

    from polyfuzz_spark.operators.tfidf import (
        TfidfConfig,
        TfidfModel,
        fit_tfidf,
        vectorize,
    )
    from polyfuzz_spark.streaming.incremental import (
        build_index,
        incremental_match,
    )

    refs = reference_strings(ctx.seed, SERVE["refs"])
    pool = request_pool(ctx.seed, refs, SERVE["pool"], SERVE["batch"])
    to_pdf = pd.DataFrame({"doc_id": range(len(refs)), "key": refs})

    def fit(force: bool = False):
        to_df = ctx.spark.createDataFrame(to_pdf, "doc_id long, key string")
        model = fit_tfidf(to_df, "key", TfidfConfig())
        to_vec = vectorize(model, to_df, "key")
        if force:
            model = TfidfModel(model.idf.localCheckpoint(eager=True),
                               model.n_docs, model.config)
            to_vec = to_vec.localCheckpoint(eager=True)
        return model, to_vec

    def prepare(rep):
        return build_index(*fit())

    setup_s, ix = _setup(ctx, prepare, SETUP_REPS["serve"])
    sampled: list = []  # (keys, rank-1 (to_id, sim_milli) per row)
    hits = [0, 0]

    def request(k: int, ix):
        keys, src = pool[k % len(pool)]
        df = ctx.spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(keys)), "key": keys}),
            "doc_id long, key string",
        ).coalesce(1)  # one request = one Arrow batch = one partition
        return keys, src, incremental_match(df, ix, top_n=5).collect()

    def check(k: int, keys, src, rows) -> bool:
        by_from: dict = {}
        for r in rows:
            by_from.setdefault(r["from_id"], []).append(r)
        problems = []
        if sorted(by_from) != list(range(len(keys))):
            problems.append(f"answered {len(by_from)} of {len(keys)} keys")
        top = {}
        for fid, rs in by_from.items():
            rs.sort(key=lambda r: r["rnk"])
            if [r["rnk"] for r in rs] != list(range(1, len(rs) + 1)) or \
                    len(rs) > 5 or any(a["sim_milli"] < b["sim_milli"]
                                       for a, b in zip(rs, rs[1:])):
                problems.append(f"key {fid}: ranks/sims out of order")
            top[fid] = (rs[0]["to_id"], rs[0]["sim_milli"])
        if problems:
            ctx.fail(f"serve-stream request {k}: " + "; ".join(problems))
        if k % SERVE["check_every"] == 0:
            sampled.append((k, keys, top))
        hits[0] += sum(1 for i, s in enumerate(src)
                       if top.get(i, (None,))[0] == s)
        hits[1] += len(src)
        return not problems

    def op(k: int, ix, tag: str):
        res = ctx.attempt(f"serve-stream {tag} request {k}",
                          lambda: request(k, ix))
        if res is None or not check(k, *res):
            return None
        return len(res[0])

    for k in range(SERVE["warmup"]):
        op(k, ix, "warm-up")
    base = SERVE["warmup"]
    if ctx.trace:
        return _serve_traced(ctx, ix, fit, op, base, build_index)
    hits[:] = [0, 0]
    loop = _timed_loop(ctx, lambda i: op(base + i, ix, "timed"),
                       min_ops=SERVE["min_requests"])

    for k, keys, top in sampled:  # dense numpy oracle on sampled requests
        best, sims = _dense_top1(ix, keys)
        bad = []
        for i in range(len(keys)):
            to_id, milli = top.get(i, (None, None))
            pos = int(np.searchsorted(ix.to_ids, to_id)) if to_id is not None \
                else -1
            if pos < 0 or abs(sims[i, pos] - best[i]) > 1e-9 or \
                    abs(milli - best[i] * 1e3) > 1.0:
                bad.append(f"key {i} top-1 {to_id}@{milli} vs dense best "
                           f"{best[i]:.4f}")
        if bad:
            ctx.fail(f"serve-stream request {k}: " + "; ".join(bad))
    return Outcome(_e2e(ctx, setup_s, loop,
                        top1_accuracy=hits[0] / max(hits[1], 1)), {})


def _serve_traced(ctx: Ctx, ix, fit, op, base, build_index) -> Outcome:
    """Untraced requests, a traced index build and the same requests under
    spans; then one traced facade call, which measures the api.* layers."""
    n = SERVE["traced_requests"]
    untraced = []
    # _timed_loop is not used here: the baseline is a fixed request count
    for i in range(n):
        t = time.monotonic()
        op(base + i, ix, "untraced")
        untraced.append(time.monotonic() - t)
    tr = ctx.tracer
    tr.op = "serve-build"
    model, to_vec = fit(force=True)
    with tr.span("incremental.build_index") as s:
        ix = build_index(model, to_vec)
    L = {"incremental.build_index_s": s["end"] - s["start"],
         "incremental.index_mb": (ix.to_mat.nbytes + ix.idf.nbytes) / 1e6}
    traced = []
    for i in range(n):
        tr.op = f"request-{i}"
        with tr.span("incremental.request") as s:
            op(base + i, ix, "traced")
        traced.append(s["end"] - s["start"])
    L["trace.overhead_frac"] = float(np.median(traced) /
                                     np.median(untraced) - 1)
    facade_op, _ = _facade(ctx)
    facade_op(0, traced=True, tag="traced")
    L.update(_api_seconds(tr, calls=1))
    out = _traced_outcome(ctx, L)
    req = {c: out.layers[f"incremental.request.{c}"] for c in SPAN_COUNTERS}
    out.layers["incremental.jobs_per_request"] = req["jobs"] / n
    out.layers["incremental.exec_frac"] = req["task_s"] / sum(traced)
    _api_jobs(out, calls=1)
    return out


# ----------------------------------------------------------------- api
def _facade(ctx: Ctx):
    """(op, quality) for facade calls on the seeded match lists:
    ``PolyFuzzSpark("TF-IDF").match(from, to).group(link_min_similarity=
    0.75).matches_pandas()``, each output checked. A traced call runs match,
    group and the collect in spans, forcing the matches at each boundary.
    ``quality`` gets (top1_accuracy, bcubed_f1) of every passing call."""
    from polyfuzz_spark.api import PolyFuzzSpark

    frm, to, truth = match_lists(ctx.seed, API["n_to"], API["n_from"])
    quality = []

    def call(k: int, traced: bool):
        tr = ctx.tracer
        if not traced:
            return PolyFuzzSpark("TF-IDF", ctx.spark).match(frm, to).group(
                link_min_similarity=0.75).matches_pandas()
        tr.op = f"call-{k}"
        with tr.span("api.match"):
            p = PolyFuzzSpark("TF-IDF", ctx.spark).match(frm, to)
            p.get_matches().cache().count()
        with tr.span("api.group"):
            p.group(link_min_similarity=0.75)
            p.get_matches().cache().count()
        with tr.span("api.collect"):
            return p.matches_pandas()

    def check(k: int, pdf) -> bool:
        problems = []
        if len(pdf) != len(frm):
            problems.append(f"{len(pdf)} rows for {len(frm)} from strings")
        missing = {"From", "To", "Similarity", "Group"} - set(pdf.columns)
        if missing:
            problems.append(f"missing columns {sorted(missing)}")
        elif list(pdf["From"]) != frm:
            problems.append("From column is not the from list in order")
        if problems:
            ctx.fail(f"api-match-group call {k}: " + "; ".join(problems))
        if not problems:
            top1 = float(np.mean([t == to[s] for t, s in
                                  zip(pdf["To"], truth)]))
            b3 = bcubed_f1(dict(enumerate(pdf["Group"])), dict(enumerate(truth)))
            quality.append((top1, b3))
        return not problems

    def op(k: int, traced: bool = False, tag: str = "timed"):
        t0 = time.monotonic()
        pdf = ctx.attempt(f"api-match-group {tag} call {k}",
                          lambda: call(k, traced))
        _log(f"api-match-group {tag} call {k}: {time.monotonic() - t0:.2f} s")
        if pdf is None or not check(k, pdf):
            return None
        return len(frm)

    return op, quality


def _api_seconds(tr: Tracer, calls: int) -> dict:
    return {f"{span}_s": tr.total(span) / calls
            for span in ("api.match", "api.group", "api.collect")}


def _api_jobs(out: Outcome, calls: int) -> None:
    out.layers["api.jobs_per_call"] = sum(
        out.layers[f"{s}.jobs"] for s in ("api.match", "api.group",
                                          "api.collect")) / calls


def api_match_group(ctx: Ctx) -> Outcome:
    setup_s, _ = _setup(ctx, lambda rep: match_lists(
        ctx.seed, API["n_to"], API["n_from"]), SETUP_REPS["api"])
    op, quality = _facade(ctx)
    op(0, tag="warm-up")
    if ctx.trace:
        t0 = time.monotonic()
        op(1, tag="untraced")
        untraced_wall = time.monotonic() - t0
        t0 = time.monotonic()
        op(2, traced=True, tag="traced")
        L = _api_seconds(ctx.tracer, calls=1)
        L["trace.overhead_frac"] = (time.monotonic() - t0) / untraced_wall - 1
        out = _traced_outcome(ctx, L)
        _api_jobs(out, calls=1)
        return out
    loop = _timed_loop(ctx, lambda i: op(1 + i), min_ops=1)
    top1, b3 = quality[-1] if quality else (0.0, 0.0)
    return Outcome(_e2e(ctx, setup_s, loop, top1_accuracy=top1,
                        bcubed_f1=b3), {})


WORKLOADS = {
    "er-default": er_default,
    "er-scale": er_scale,
    "serve-stream": serve_stream,
    "api-match-group": api_match_group,
}
