"""The benchmark's workloads. Each one drives the engine only through its
public entry points, checks every iteration's output against an oracle,
and can run one extra traced iteration for the per-layer numbers.

* ``samples_export`` — ``pipeline.build_samples_pipeline`` with the empty
  frame lexicon (the ``kg_samples`` shape), written to the ``noop`` sink;
  checked against ``oracle.duck.samples_noframes_sql``.
* ``buckets_resume`` — ``runner.run_incremental`` into a fresh parquet sink,
  then ``runner.finalize_nodes``, then a second ``run_incremental`` that must
  process no bucket; checked against ``oracle.pyref.extract_all_triples``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import traceback

import fixtures
import tracing
from common import (CACHE, Clock, CpuMeter, cpu_ticks, dir_bytes, digest_df,
                    digest_of, fresh_dir, jvm_pid, median, observe_digest,
                    start_spark, steal_frac, stop_spark, vm_hwm_mb)

SF = 0.005           # ~2.3k turns: the timed fixture
WARM_SF = 0.001      # ~450 turns: warm-up fixture, same seed
NUM_BUCKETS = 2      # conv_id buckets of buckets_resume

# layers each workload runs; the others report 0 in a traced run
LAYERS_RUN = {
    "samples_export": ("scan", "parse", "pipeline", "mentions", "pairs",
                       "opinions", "connotation", "expansion", "samples",
                       "trace"),
    "buckets_resume": ("scan", "parse", "pipeline", "mentions", "pairs",
                       "opinions", "connotation", "expansion", "runner",
                       "trace"),
}


def _warm_step(log, meter: CpuMeter, name: str, fn) -> None:
    c, (cpu0, jit0) = Clock(), meter.read()
    fn()
    cpu1, jit1 = meter.read()
    log(f"# warm-up {name} wall_s={c.s():.3f} cpu_s={cpu1 - cpu0:.2f} "
        f"jit_cpu_s={jit1 - jit0:.2f}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class IterationFailed(Exception):
    pass


# ------------------------------------------------------------- workloads

class SamplesExport:
    name = "samples_export"

    def load(self, fixture_dir: str):
        from arekit_r335_spark.lexicons import FramesLexicon, KgInputs
        return KgInputs.at(fixture_dir), FramesLexicon.empty()

    def iteration(self, spark, loaded, i: int) -> dict:
        from arekit_r335_spark.pipeline import build_samples_pipeline

        inputs, frames = loaded
        c = Clock()
        df = build_samples_pipeline(spark, inputs, frames_override=frames)
        df, obs = observe_digest(df, f"samples_{i}")
        _noop(df)
        wall = c.s()
        return {"wall": wall, "digest": digest_of(obs)}

    def warmup(self, spark, warm, loaded, log, meter) -> None:
        # the first timed-fixture iteration after the cold one still needs
        # ~10% more work CPU than the later ones, so it belongs to set-up:
        # every timed iteration is then equally warm
        _warm_step(log, meter, "cold", lambda: self.iteration(spark, warm, -2))
        _warm_step(log, meter, "timed_fixture",
                   lambda: self.iteration(spark, loaded, -1))

    def oracle(self, spark, sf, seed, fixture_dir) -> dict:
        return fixtures.duck_samples(spark, sf, seed, fixture_dir)

    def traced(self, spark, loaded, tr: tracing.Tracer, staged: list) -> dict:
        from arekit_r335_spark import pipeline as pipeline_mod
        from arekit_r335_spark.pipeline import build_samples_pipeline

        inputs, frames = loaded
        with tr.span("iteration"):
            _trace_scan(spark, inputs, tr)
            with tracing.patched(pipeline_mod, "parse_transcripts",
                                 lambda f: _traced_parse(f, spark, tr)), \
                 tracing.patched(pipeline_mod, "build_triple_pipeline",
                                 lambda f: _traced_build(f, spark, tr,
                                                         staged)):
                with tr.span("samples.plan"):
                    df = build_samples_pipeline(spark, inputs,
                                                frames_override=frames)
            with tr.span("samples.mask") as a:
                df, obs = observe_digest(df, "samples_traced")
                _noop(df)
                a["rows"] = int(obs.get["n"])
        return {"digest": digest_of(obs)}


class BucketsResume:
    name = "buckets_resume"

    def load(self, fixture_dir: str):
        from arekit_r335_spark.lexicons import FramesLexicon, KgInputs
        inputs = KgInputs.at(fixture_dir)
        FramesLexicon.from_json(inputs.frames)   # fail early on a bad lexicon
        return inputs

    def _sink(self, i) -> str:
        return fresh_dir(os.path.join(CACHE, "sinks", f"{self.name}_{i}"))

    def _run(self, spark, inputs, sink: str, num_buckets: int,
             span=lambda name: contextlib.nullcontext()) -> dict:
        from arekit_r335_spark.runner import finalize_nodes, run_incremental

        c = Clock()
        with span("runner.run"):
            done = run_incremental(spark, inputs, sink,
                                   num_buckets=num_buckets)
        with span("runner.finalize"):
            finalize_nodes(spark, inputs, sink)
        with span("runner.resume"):
            again = run_incremental(spark, inputs, sink,
                                    num_buckets=num_buckets)
        return {"wall": c.s(), "done": done, "again": again}

    def _check(self, spark, sink: str, out: dict) -> dict:
        """Untimed checks: one ``done`` lineage row per bucket, an empty
        resume pass, and the edges digest. Removes the sink."""
        from pyspark.sql import functions as F

        lineage = (spark.read.parquet(os.path.join(sink, "lineage"))
                   .filter(F.col("status") == "done")
                   .groupBy("bucket").count().collect())
        per_bucket = {r["bucket"]: r["count"] for r in lineage}
        problems = []
        if per_bucket != {b: 1 for b in range(NUM_BUCKETS)}:
            problems.append(f"lineage done rows per bucket {per_bucket}")
        if len(out["done"]) != NUM_BUCKETS:
            problems.append(f"first pass ran {len(out['done'])} buckets")
        if out["again"]:
            problems.append(f"resume pass ran {len(out['again'])} buckets")
        if problems:
            raise IterationFailed("; ".join(problems))
        edges = spark.read.parquet(os.path.join(sink, "edges"))
        chk = {"wall": out["wall"],
               "digest": digest_df(edges.select(*fixtures.TRIPLE_COLS)),
               "sink_bytes": dir_bytes(sink),
               "bucket_walls": [m["wall_sec"] for m in out["done"]]}
        fresh_dir(sink)
        return chk

    def warmup(self, spark, warm, inputs, log, meter) -> None:
        # one bucket covers run_bucket, every sink write, finalize and
        # resume; a second bucket or a timed-fixture pass does not fit the
        # run budget, and the run always times exactly one iteration
        sink = self._sink("warm")
        _warm_step(log, meter, "cold", lambda: self._run(spark, warm, sink, 1))
        fresh_dir(sink)

    def iteration(self, spark, inputs, i: int) -> dict:
        sink = self._sink(i)
        return self._check(spark, sink,
                           self._run(spark, inputs, sink, NUM_BUCKETS))

    def oracle(self, spark, sf, seed, fixture_dir) -> dict:
        return fixtures.pyref_triples(spark, sf, seed, fixture_dir)

    def traced(self, spark, inputs, tr: tracing.Tracer, staged: list) -> dict:
        from arekit_r335_spark import pipeline as pipeline_mod
        from arekit_r335_spark import runner as runner_mod
        from arekit_r335_spark.runner import GraphSink

        sink = self._sink("traced")
        with tr.span("iteration"):
            _trace_scan(spark, inputs, tr)
            with tracing.patched(pipeline_mod, "parse_transcripts",
                                 lambda f: _traced_parse(f, spark, tr)), \
                 tracing.patched(runner_mod, "build_triple_pipeline",
                                 lambda f: _traced_build(f, spark, tr,
                                                         staged)), \
                 tracing.patched(runner_mod, "run_bucket",
                                 lambda f: _traced_bucket(f, tr, staged)), \
                 tracing.patched(GraphSink, "write_overwrite_partitions",
                                 lambda f: _traced_write(f, tr)), \
                 tracing.patched(GraphSink, "write_overwrite",
                                 lambda f: _traced_write(f, tr)), \
                 tracing.patched(GraphSink, "append",
                                 lambda f: _traced_write(f, tr)):
                out = self._run(spark, inputs, sink, NUM_BUCKETS,
                                span=tr.span)
        return self._check(spark, sink, out)


WORKLOADS = {"samples_export": SamplesExport, "buckets_resume": BucketsResume}


# --------------------------------------------------------- traced stages

def _trace_scan(spark, inputs, tr) -> None:
    with tr.span("scan") as a:
        df, obs = observe_digest(spark.read.parquet(inputs.transcripts),
                                 "scan_traced")
        _noop(df)
        a["rows"] = int(obs.get["n"])


def _traced_parse(orig, spark, tr):
    """``parse_transcripts`` as called by the engine. The EP1 parse is also
    run standalone into ``noop`` (``parse.s`` with its Python-worker SQL
    metrics); the terms parse of EP2 is checkpointed eagerly so that its
    cost (``samples.parse_terms_s``) separates from the masking."""
    def wrapper(*args, **kwargs):
        df = orig(*args, **kwargs)
        with_terms = kwargs.get("with_terms", args[3] if len(args) > 3
                                else False)
        if with_terms:
            with tr.span("samples.parse_terms"):
                return df.localCheckpoint(eager=True)
        with tr.span("parse") as a:
            od, obs = observe_digest(df.select("conv_id", "turn_idx",
                                               "n_terms"), "parse_traced")
            _noop(od)
            a["rows"] = int(obs.get["n"])
            nodes = tracing.execution_nodes(
                spark, tracing.last_execution_id(spark))
            a["python_s"] = tracing.sum_metric(
                nodes, "MapInArrow", "time to run Python workers")
            a["bytes_to_py"] = tracing.sum_metric(
                nodes, "MapInArrow", "data sent to Python workers")
            a["bytes_from_py"] = tracing.sum_metric(
                nodes, "MapInArrow", "data returned from Python workers")
        return df
    return wrapper


def _traced_build(orig, spark, tr, staged: list):
    """``build_triple_pipeline``: the call itself (``pipeline`` span, which
    holds the eager parse checkpoint when the frames branch is live), then
    the result members materialized in DAG order (persist + count)."""
    def wrapper(*args, **kwargs):
        from arekit_r335_spark.config import PipelineConfig
        from arekit_r335_spark.operators.opinions import (PRI_FRAMES,
                                                          PRI_NOLABEL,
                                                          PRI_PREDEFINED)
        from arekit_r335_spark.operators.pairs import candidate_pairs

        with tr.span("pipeline"):
            res = orig(*args, **kwargs)
        cfg = kwargs.get("cfg", args[2] if len(args) > 2 else None)
        cfg = cfg or PipelineConfig()

        def mat(name, df):
            """persist + count; returns (span attrs, SQL plan nodes)."""
            with tr.span(name) as a:
                df = df.persist()
                staged.append(df)
                a["rows"] = df.count()
            return a, tracing.execution_nodes(
                spark, tracing.last_execution_id(spark))

        mat("mentions", res.mentions)
        mat("mentions.frames", res.frames)
        a, nodes = mat("pairs", candidate_pairs(res.mentions, cfg))
        a["shuffle_bytes"] = tracing.sum_metric(
            nodes, "Exchange", "shuffle bytes written")
        a, _ = mat("opinions", res.doc_opinions)
        with tr.span("opinions.by_annotator"):
            by = {r["priority"]: r["count"] for r in
                  res.doc_opinions.groupBy("priority").count().collect()}
        a["predefined_rows"] = by.get(PRI_PREDEFINED, 0)
        a["nolabel_rows"] = by.get(PRI_NOLABEL, 0)
        a["frame_rows"] = by.get(PRI_FRAMES, 0)
        a, nodes = mat("expansion", res.text_opinions)
        a["expand_rows"] = tracing.top_join_rows(nodes)
        return res
    return wrapper


def _traced_bucket(orig, tr, staged: list):
    def wrapper(*args, **kwargs):
        with tr.span("runner.bucket"):
            out = orig(*args, **kwargs)
        while staged:
            staged.pop().unpersist()
        return out
    return wrapper


def _traced_write(orig, tr):
    def wrapper(self, df, name, *args, **kwargs):
        with tr.span(f"runner.write.{name}"):
            return orig(self, df, name, *args, **kwargs)
    return wrapper


def layer_metrics(tr: tracing.Tracer, wall_s: float, root_s: float,
                  extra: dict) -> dict:
    """Per-layer metrics of one traced iteration."""
    def attr(span, key):
        return float(tr.attr_sum(span, key))

    call = ckpt = 0.0
    for p in (s for s in tr.spans if s["name"] == "pipeline"):
        parse = sum(s["end"] - s["start"] for s in tr.spans
                    if s["parent"] == p["id"] and s["name"] == "parse")
        # the call's own time leaves out the benchmark's standalone parse
        # inside it: plan construction plus, with the frames branch live,
        # the eager parse checkpoint (a second parse and its write)
        own = (p["end"] - p["start"]) - parse
        call += own
        ckpt += max(0.0, own - parse)
    pairs = attr("pairs", "rows")
    doc_ops = attr("opinions", "rows")
    expand = attr("expansion", "expand_rows")
    dedup = attr("expansion", "rows")
    mask = tr.total("samples.mask")
    m = {
        "scan.s": tr.total("scan"), "scan.rows": attr("scan", "rows"),
        "parse.s": tr.total("parse"), "parse.rows": attr("parse", "rows"),
        "parse.python_s": attr("parse", "python_s"),
        "parse.bytes_to_py": attr("parse", "bytes_to_py"),
        "parse.bytes_from_py": attr("parse", "bytes_from_py"),
        "pipeline.call_s": call, "pipeline.ckpt_s": ckpt,
        "mentions.s": tr.total("mentions"),
        "mentions.rows": attr("mentions", "rows"),
        "mentions.frames_s": tr.total("mentions.frames"),
        "mentions.frames_rows": attr("mentions.frames", "rows"),
        "pairs.s": tr.total("pairs"), "pairs.rows": pairs,
        "pairs.shuffle_bytes": attr("pairs", "shuffle_bytes"),
        "opinions.s": tr.total("opinions") + tr.total(
            "opinions.by_annotator"),
        "opinions.predefined_rows": attr("opinions", "predefined_rows"),
        "opinions.nolabel_rows": attr("opinions", "nolabel_rows"),
        "connotation.frame_rows": attr("opinions", "frame_rows"),
        "opinions.yield": doc_ops / pairs if pairs else 0.0,
        "expansion.s": tr.total("expansion"),
        "expansion.expand_rows": expand, "expansion.dedup_rows": dedup,
        "expansion.keep_ratio": dedup / expand if expand else 0.0,
        "samples.parse_terms_s": tr.total("samples.parse_terms"),
        "samples.mask_s": mask,
        "samples.rows": attr("samples.mask", "rows"),
        "runner.write_edges_s": tr.total("runner.write.edges"),
        "runner.write_opinions_s": tr.total("runner.write.opinions"),
        "runner.write_nodes_partial_s": tr.total(
            "runner.write.nodes_partial"),
        "runner.lineage_s": tr.total("runner.write.lineage"),
        "runner.finalize_s": tr.total("runner.finalize"),
        "runner.resume_s": tr.total("runner.resume"),
        "runner.bytes_written": float(extra.get("bytes_written", 0)),
        "runner.bucket_s": float(extra.get("bucket_s", 0.0)),
        "runner.sink_bytes_per_turn": float(
            extra.get("sink_bytes_per_turn", 0.0)),
        "trace.overhead_s": root_s - wall_s,
    }
    return m


# ------------------------------------------------------------------ run

def run(name: str, seed: int, seconds: float, trace: bool,
        sf: float = SF, warm_sf: float = WARM_SF,
        expect_digest: str | None = None, log=print) -> dict:
    """One benchmark run of workload ``name``: set-up, the closed timed
    loop, correctness checks and (``trace``) one traced iteration.
    ``expect_digest`` replaces the oracle's digest (self-test only)."""
    wl = WORKLOADS[name]()
    fx_dir, gen_s = fixtures.fixture(sf, seed)
    warm_dir, warm_gen_s = fixtures.fixture(warm_sf, seed)
    turns = fixtures.n_turns(fx_dir)
    log(f"# fixture sf={sf:g} seed={seed} turns={turns} "
        f"generated_s={gen_s if gen_s is None else round(gen_s, 3)} "
        f"(warm-up fixture sf={warm_sf:g} "
        f"generated_s={warm_gen_s if warm_gen_s is None else round(warm_gen_s, 3)})")

    # ---- set-up: session start, lexicon load, warm-up
    c = Clock()
    spark = start_spark()
    try:
        session_s = c.s()
        meter = CpuMeter(jvm_pid(spark))
        loaded = wl.load(fx_dir)
        wl.warmup(spark, wl.load(warm_dir), loaded, log, meter)
        setup_s = c.s()
        log(f"# setup session_s={session_s:.3f} "
            f"warmup_s={setup_s - session_s:.3f}")

        # ---- closed loop: one client, next iteration when the last ends
        iters: list[dict] = []
        loop = Clock()
        while not iters or loop.s() < seconds:
            t0, it_clock, (cpu0, jit0) = cpu_ticks(), Clock(), meter.read()
            try:
                out = wl.iteration(spark, loaded, len(iters))
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                traceback.print_exc(file=sys.stderr)
                out = {"wall": it_clock.s(),
                       "error": f"{type(e).__name__}: {e}"}
            out["steal"] = steal_frac(t0, cpu_ticks())
            cpu1, jit1 = meter.read()
            out["cpu"], out["jit"] = cpu1 - cpu0, jit1 - jit0
            iters.append(out)
        peak_rss = vm_hwm_mb(jvm_pid(spark)) + vm_hwm_mb("self")

        # ---- correctness (after timing, so the oracle perturbs nothing)
        orc = wl.oracle(spark, sf, seed, fx_dir)
        want = expect_digest or orc["digest"]
        for it in iters:
            it["ok"] = it.get("digest") == want
        log(f"# oracle rows={orc['rows']} seconds={orc['seconds']:.3f}"
            + (f" pyref_turns_per_s={orc['turns_per_s']:.1f}"
               if "turns_per_s" in orc else ""))

        def med(key: str) -> float:
            return median([it[key] for it in iters if it["ok"]]
                          or [it[key] for it in iters])

        wall_s = med("wall")
        failed = sum(not it["ok"] for it in iters)
        for i, it in enumerate(iters):
            log(f"# iter {i} wall_s={it['wall']} cpu_s={it['cpu']:.2f} "
                f"jit_cpu_s={it['jit']:.2f} steal={it['steal']:.4f} "
                f"ok={it['ok']}" + (f" error={it['error']}"
                                    if "error" in it else ""))
        extra = {}
        if name == "buckets_resume":
            bw = [b for it in iters if it["ok"] for b in it["bucket_walls"]]
            sb = [it["sink_bytes"] for it in iters if it["ok"]]
            extra = {"bucket_s": median(bw) if bw else 0.0,
                     "sink_bytes_per_turn": median(sb) / turns if sb else 0.0}
        # printed with their units, but not gated: wall time follows the
        # host's CPU steal (see README), JIT work follows the host's load
        info = {"failed_frac": (failed / len(iters), "1"),
                "wall_s": (wall_s, "s"),
                "turns_per_s": (turns / wall_s, "turns/s"),
                "jit_cpu_s": (med("jit"), "s")}
        if extra:
            info["bucket_s"] = (extra["bucket_s"], "s")
            info["sink_bytes_per_turn"] = (extra["sink_bytes_per_turn"],
                                           "B/turn")
        result = {
            "attempted": len(iters), "failed": failed,
            "setup_s": setup_s, "cpu_s": med("cpu"),
            "peak_rss_mb": peak_rss, "info": info,
        }

        # ---- traced iteration
        if trace:
            tr = tracing.Tracer(f"{name}-s{seed}-{int(time.time())}")
            staged: list = []
            ok = True
            try:
                out = wl.traced(spark, loaded, tr, staged)
                untraced = {it.get("digest") for it in iters}
                ok = out["digest"] == want and untraced == {want}
                if not ok:
                    log("# traced digest differs from the untraced one "
                        "or from the oracle")
            except Exception:  # noqa: BLE001 - counted as a failed iteration
                traceback.print_exc(file=sys.stderr)
                ok = False
            finally:
                while staged:
                    staged.pop().unpersist()
            root = next((s for s in tr.spans if s["name"] == "iteration"),
                        None)
            root_s = (root["end"] - root["start"]) if root else 0.0
            cov = tr.coverage(root["id"]) if root else 0.0
            if cov < 0.9:
                log(f"# span coverage {cov:.3f} < 0.9")
                ok = False
            if name == "buckets_resume" and ok:
                extra["bytes_written"] = out["sink_bytes"]
            result["attempted"] += 1
            result["failed"] += 0 if ok else 1
            result["layers"] = layer_metrics(tr, wall_s, root_s, extra)
            tr.write(os.path.join(CACHE, "traces", tr.trace_id + ".json"))
            log(f"# trace {tr.trace_id} root_s={root_s:.3f} coverage={cov:.3f}")
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(CACHE, "sinks"), ignore_errors=True)
    return result
