"""Product benchmark of the catalog PII scanner, end to end and per layer.

    python3 perfbench/run.py --workload full_scan --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root. One run starts one Spark session, does the
workload's set-up, makes one cold pass and then warm passes, in whole
rounds, until the warm passes have taken ``--seconds`` in all and the
workload's ``min_warm`` of them are done. Every pass's outputs are
checked. The last line of standard output is one JSON object:
``correct``, ``attempted`` (passes), ``failed`` (passes that failed their
check because of the known stale-finding fault, see README.md) and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: free-text values of the text_ensemble corpus
CORPUS_VALUES = 6000
#: no new round starts after this many seconds of the run
RUN_DEADLINE_S = 150.0


def _session_env(tmp: str) -> dict[str, str]:
    """Session size and scratch space, through the variables
    ``session.py`` reads; the rest of the session conf is the
    program's own."""
    # half the cores run tasks; the JVM's compiler and GC threads and the
    # Python workers get the rest (all cores made passes less steady)
    cpus = max(1, min(4, len(os.sched_getaffinity(0)) // 2))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    os.makedirs(os.path.join(tmp, "local"))
    return {"SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": f"{min(3072, total_mb // 4)}m",
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "TMPDIR": tmp}


def _cli(argv: list[str]) -> tuple[str, list[dict]]:
    """Run one CLI verb in-process: its stdout, and the JSON objects it
    logged on stderr."""
    from catalog_pii_scanner_spark import cli
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        rc = cli.main(argv)
    if rc != 0:
        raise RuntimeError(f"cli {argv[0]} exited {rc}")
    logged = []
    for line in err.getvalue().splitlines():
        if line.startswith("{"):
            logged.append(json.loads(line))
    return out.getvalue(), logged


def _logged(logged: list[dict], key: str) -> dict:
    return next((d for d in logged if key in d), {})


class Ctx:
    """What a workload needs from the run: seed, input sizes, scratch
    dir, tracing."""

    def __init__(self, seed: int, tmp: str, tracer,
                 corpus_values: int = CORPUS_VALUES):
        self.seed, self.tmp, self.tracer = seed, tmp, tracer
        self.corpus_values = corpus_values
        self.spark = None

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def count(self, name: str, value: float) -> None:
        if self.tracer is not None:
            self.tracer.count(name, value)


class Check:
    """One pass's verdict: ``problem`` makes the run incorrect; ``fault``
    marks the known stale-finding failure."""

    def __init__(self, problem: str | None = None, fault: bool = False):
        self.problem, self.fault = problem, fault


# --- workloads ---------------------------------------------------------------

class FullScan:
    """``scan --sf-dir C --merge-store S --apply`` into an empty store."""

    round_size = 1
    min_warm = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def generate(self, out_dir: str) -> None:
        import gen
        self.cat = os.path.join(out_dir, "catalog")
        self.values = gen.write_catalog(self.ctx.seed, self.cat)

    def prime(self) -> None:
        pass

    def prepare_checks(self) -> None:
        import checks
        self.want = checks.catalog_oracle(self.cat)
        self.store = os.path.join(self.ctx.tmp, "store")

    def before_pass(self, i: int) -> None:
        shutil.rmtree(self.store, ignore_errors=True)

    def run_pass(self, i: int):
        return _cli(["scan", "--sf-dir", self.cat,
                     "--merge-store", self.store, "--apply"])

    def check(self, i: int, out) -> Check:
        import checks
        printed, logged = out
        got = checks.printed_findings(json.loads(printed))
        stats = _logged(logged, "writeback").get("writeback", {})
        self.ctx.count("sinks.writeback.applied", stats.get("applied", 0))
        self.ctx.count("sinks.writeback.skipped", stats.get("skipped", 0))
        problems = []
        if diff := checks.diff_refs(got, self.want):
            problems.append(f"printed findings differ on {sorted(diff)}")
        if diff := checks.diff_refs(checks.store_findings(self.store),
                                    self.want):
            problems.append(f"store differs on {sorted(diff)}")
        problems += checks.seeded_problems(got)
        if stats != {"applied": len(got), "skipped": 0}:
            problems.append(f"writeback {stats} for {len(got)} findings")
        return Check("; ".join(problems) or None)


class IncrementalRescan:
    """``scan ... --incremental`` alternating between snapshots B and A
    of the catalog; set-up primes the store with snapshot A."""

    round_size = 2
    min_warm = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def generate(self, out_dir: str) -> None:
        import gen
        self.cats = {s: os.path.join(out_dir, s) for s in ("A", "B")}
        self.values = gen.write_catalog(self.ctx.seed, self.cats["A"], "A")
        gen.write_catalog(self.ctx.seed, self.cats["B"], "B")

    def _argv(self, snapshot: str) -> list[str]:
        return ["scan", "--sf-dir", self.cats[snapshot],
                "--merge-store", self.store, "--incremental", "--apply"]

    def prime(self) -> None:
        self.store = os.path.join(self.ctx.tmp, "store")
        _cli(self._argv("A"))

    def prepare_checks(self) -> None:
        import checks
        self.want = {s: checks.catalog_oracle(d)
                     for s, d in self.cats.items()}
        if diff := checks.diff_refs(checks.store_findings(self.store),
                                    self.want["A"]):
            raise AssertionError(f"primed store differs on {sorted(diff)}")

    @staticmethod
    def snapshot(i: int) -> str:
        return "B" if i % 2 == 0 else "A"

    def before_pass(self, i: int) -> None:
        pass

    def run_pass(self, i: int):
        return _cli(self._argv(self.snapshot(i)))

    def check(self, i: int, out) -> Check:
        import checks
        import gen
        printed, logged = out
        snap = self.snapshot(i)
        want = self.want[snap]
        inc = _logged(logged, "incremental")
        stats = _logged(logged, "writeback").get("writeback", {})
        rescanned = gen.N_COLUMNS - inc.get("skipped_columns", 0)
        self.ctx.count("operators.incremental.columns", gen.N_COLUMNS)
        self.ctx.count("operators.incremental.columns_rescanned", rescanned)
        self.ctx.count("sinks.writeback.applied", stats.get("applied", 0))
        self.ctx.count("sinks.writeback.skipped", stats.get("skipped", 0))
        problems = []
        if rescanned != len(gen.CHANGED):
            problems.append(f"rescanned {rescanned} columns, changed "
                            f"{len(gen.CHANGED)}")
        got = checks.printed_findings(json.loads(printed))
        want_printed = {r: f for r, f in want.items() if r in gen.CHANGED}
        if diff := checks.diff_refs(got, want_printed):
            problems.append(f"printed findings differ on {sorted(diff)}")
        if stats != {"applied": len(got), "skipped": 0}:
            problems.append(f"writeback {stats} for {len(got)} findings")
        store = checks.store_findings(self.store)
        diff = checks.diff_refs(store, want)
        # the known fault: snapshot B retracts every PII value of one
        # column, and merge_findings keeps that column's finding from A
        fault = (snap == "B" and diff == {gen.RETRACTED}
                 and store[gen.RETRACTED] == self.want["A"][gen.RETRACTED])
        if diff and not fault:
            problems.append(f"store differs on {sorted(diff)}")
        return Check("; ".join(problems) or None, fault)


class TextEnsemble:
    """The ``scan-text --ensemble`` composition over a free-text corpus,
    predictions written to Parquet."""

    round_size = 1
    min_warm = 2
    column_ref = "text://corpus"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def generate(self, out_dir: str) -> None:
        import gen
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.texts, self.golds = gen.text_corpus(self.ctx.seed,
                                                 self.ctx.corpus_values)
        self.values = len(self.texts)
        os.makedirs(out_dir, exist_ok=True)
        self.corpus = os.path.join(out_dir, "corpus.parquet")
        pq.write_table(pa.table({
            "column_ref": [self.column_ref] * len(self.texts),
            "value": self.texts}), self.corpus)

    def prime(self) -> None:
        pass

    def prepare_checks(self) -> None:
        import checks
        from catalog_pii_scanner_spark.config import load_config
        from catalog_pii_scanner_spark.operators.ensemble import (
            EnsembleWeights)
        from catalog_pii_scanner_spark.operators.rules import (
            rules_for_types)
        cfg = load_config(None)
        self.rules = rules_for_types(cfg.rules.enabled_types)
        self.weights = EnsembleWeights(w_rule=cfg.ai.ensemble.w_rule,
                                       w_ner=cfg.ai.ensemble.w_ner,
                                       w_embed=cfg.ai.ensemble.w_embed)
        self.threshold = cfg.ai.ensemble.decision_threshold
        self.want = checks.text_oracle_hash(
            self.texts, self.column_ref, self.weights, self.threshold)
        self.out = os.path.join(self.ctx.tmp, "predictions")

    def before_pass(self, i: int) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, i: int):
        from catalog_pii_scanner_spark.operators import findings, pipeline
        from catalog_pii_scanner_spark.operators.ensemble import (
            IDENTITY_CALIBRATION)
        df = self.ctx.spark.read.parquet(self.corpus)
        cands = findings.scan_values(df, rules=self.rules)
        preds = pipeline.full_scan_predictions(
            cands, model=None, weights=self.weights,
            decision_threshold=self.threshold, ner_provider="regex",
            calibration=IDENTITY_CALIBRATION)
        with self.ctx.span("operators.ensemble", "write_predictions"):
            preds.write.parquet(self.out)
        return cands

    def check(self, i: int, cands) -> Check:
        import checks
        got = checks.parquet_hash(self.out)
        self.ctx.count("operators.ensemble.predictions", got[0])
        problems = []
        if got != self.want:
            problems.append(f"predictions {got} != oracle {self.want}")
        if i == 0:
            # candidates are a deterministic function of the corpus; the
            # predictions that derive from them are checked every pass
            found = {tuple(r) for r in cands.select(
                "value", "pii_type", "match_text").distinct().collect()}
            if misses := checks.gold_misses(self.texts, self.golds, found):
                problems.append(f"{len(misses)} gold spans missed, e.g. "
                                f"{misses[:3]}")
        return Check("; ".join(problems) or None)


WORKLOADS = {"full_scan": FullScan, "incremental_rescan": IncrementalRescan,
             "text_ensemble": TextEnsemble}


# --- the run -----------------------------------------------------------------

def _trace_hooks(ctx: Ctx) -> dict:
    """Counters read where each layer's work happens (traced run only)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from layers import files_since

    def melt_values(out, args, kwargs, t0):
        sf_dir, table = args[1], args[2]
        cols = kwargs.get("columns") or (args[3] if len(args) > 3 else None)
        md = pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata
        names = md.schema.names
        idx = [names.index(c) for c, _ in cols] if cols \
            else range(len(names))
        nulls = sum(md.row_group(g).column(j).statistics.null_count
                    for g in range(md.num_row_groups) for j in idx)
        ctx.count("sources.melt.values", md.num_rows * len(idx) - nulls)

    def rollup_candidates(out, args, kwargs, t0):
        ctx.count("operators.findings.candidates",
                  out.agg(F.sum("n_candidates")).collect()[0][0] or 0)

    def scan_candidates(out, args, kwargs, t0):
        ctx.count("operators.findings.candidates", out.count())

    def written(pos):
        def hook(out, args, kwargs, t0):
            n, size = files_since(args[pos], t0)
            ctx.count("sinks.findings_store.files_written", n)
            ctx.count("sinks.findings_store.mb_written", size / 2 ** 20)
        return hook

    return {"melt_table": melt_values, "findings_rollup": rollup_candidates,
            "scan_values": scan_candidates, "merge_findings": written(2),
            "write_column_fingerprints": written(1)}


def _observe_pipeline(ctx: Ctx) -> None:
    """Rows into the pipeline's context and model stages."""
    from catalog_pii_scanner_spark.operators import pipeline

    def contexts(out, args, kwargs, t0):
        ctx.count("operators.pipeline.contexts", args[0].count())

    def python_rows(out, args, kwargs, t0):
        ctx.count("operators.ensemble.python_rows", args[0].count())

    ctx.tracer.observe(pipeline, "ner_context_signals", contexts)
    ctx.tracer.observe(pipeline, "embed_probs", python_rows)


def _jvm_gc_s(spark) -> float:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mx.getGarbageCollectorMXBeans()) / 1000.0


def _release(spark) -> int:
    """Unpersist what the last pass left persisted or checkpointed;
    returns how many RDDs that was."""
    gc.collect()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    left = rdds.size()
    for rdd in list(rdds.values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()
    return left


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for every child to end."""
    import procstat
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(procstat.tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.tree(os.getpid())[1:]:
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


def _setup(ctx: Ctx, wl, timeline: dict) -> float:
    """Session, inputs, primed store; returns setup_s. The checks'
    oracles are computed after, untimed."""
    from catalog_pii_scanner_spark import session
    t0 = time.perf_counter()
    # JVM scratch files go to the run's directory; no /tmp/hsperfdata
    ctx.spark = session.get_spark(
        "perfbench", extra_conf={"spark.driver.extraJavaOptions":
                                 f"-Djava.io.tmpdir={ctx.tmp} "
                                 "-XX:-UsePerfData"})
    timeline["session_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.generate(os.path.join(ctx.tmp, "input"))
    timeline["gen_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prime()
    timeline["prime_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare_checks()
    timeline["check_prep_s"] = time.perf_counter() - t0
    return timeline["session_s"] + timeline["gen_s"] + timeline["prime_s"]


def _passes(ctx: Ctx, wl, seconds: float, t_start: float
            ) -> tuple[list[dict], list[str]]:
    """One cold pass, then warm ones until their wall seconds reach
    ``seconds``, in whole rounds; each pass checked."""
    import procstat
    me, tracer = os.getpid(), ctx.tracer
    passes: list[dict] = []
    problems: list[str] = []
    while True:
        i = len(passes)
        if tracer is not None:
            tracer.phase = "cold" if i == 0 else "warm"
        wl.before_pass(i)
        gc0, cpu0 = _jvm_gc_s(ctx.spark), procstat.cpu_s(me)
        steal0 = procstat.steal_s()
        t0 = time.perf_counter()
        out = None
        try:
            out = wl.run_pass(i)
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_s(me) - cpu0
            gc_s = _jvm_gc_s(ctx.spark) - gc0
            ctx.count("jvm.gc_s", gc_s)
            verdict = wl.check(i, out)
        except Exception:  # noqa: BLE001 - a failing pass ends the run
            wall, cpu, gc_s = time.perf_counter() - t0, 0.0, 0.0
            verdict = Check(traceback.format_exc(limit=3))
        del out
        passes.append({"wall_s": wall, "cpu_s": cpu, "gc_s": gc_s,
                       "steal_s": procstat.steal_s() - steal0,
                       "fault": verdict.fault,
                       "check_s": time.perf_counter() - t0 - wall})
        if verdict.problem:
            problems.append(f"pass {i}: {verdict.problem}")
            print(problems[-1], file=sys.stderr)
            return passes, problems
        left = _release(ctx.spark)
        if tracer is not None:
            tracer.peak("spark.persisted_rdds_left", left)
            tracer.collect_spark()
        n = len(passes)
        warm_s = sum(p["wall_s"] for p in passes[1:])
        if n % wl.round_size == 0 and (
                time.perf_counter() - t_start > RUN_DEADLINE_S
                or (n - 1 >= wl.min_warm and warm_s >= seconds)):
            return passes, problems


def run(workload: str, seed: int, seconds: float, traced: bool,
        tmp: str, **sizes) -> dict:
    import procstat
    from layers import Tracer

    t_start = time.perf_counter()
    tracer = Tracer() if traced else None
    ctx = Ctx(seed, tmp, tracer, **sizes)
    if traced:
        tracer.install(_trace_hooks(ctx))
        _observe_pipeline(ctx)
    wl = WORKLOADS[workload](ctx)
    timeline: dict = {}
    try:
        setup_s = _setup(ctx, wl, timeline)
        _release(ctx.spark)
        if traced:
            tracer.collect_spark()
        passes, problems = _passes(ctx, wl, seconds, t_start)
        timeline["passes"] = passes
        hwm = timeline["hwm_mb"] = procstat.hwm_mb(os.getpid())
        warm = passes[1:] or passes
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (passes[0]["wall_s"], "s"),
            "values_per_s": (wl.values / statistics.median(
                p["wall_s"] for p in warm), "values/s"),
            "pass_cpu_s": (statistics.median(p["cpu_s"] for p in warm), "s"),
            "peak_rss_mb": (sum(hwm.values()), "MB"),
        }
    finally:
        if ctx.spark is not None:
            t0 = time.perf_counter()
            _stop(ctx.spark)
            timeline["stop_s"] = time.perf_counter() - t0
        print(json.dumps({"timeline": timeline}), file=sys.stderr)
    metrics = {k: {"value": round(v, 6), "unit": u}
               for k, (v, u) in e2e.items()}
    if traced:
        print(json.dumps({"spans": tracer.spans}), file=sys.stderr)
        print(json.dumps({"end_to_end_traced": metrics}), file=sys.stderr)
        metrics = tracer.per_layer(len(passes) - 1)
    return {"correct": not problems, "attempted": len(passes),
            "failed": sum(p["fault"] for p in passes), "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus-values", type=int, default=CORPUS_VALUES,
                    help="text_ensemble corpus values (tests: small)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import catalog_pii_scanner_spark  # noqa: F401
        import tools.selfcheck  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not here ({exc}); run from the "
              "repository root", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    os.environ.update(_session_env(tmp))
    tempfile.tempdir = tmp
    # the JVM and Python workers inherit fd 1: keep stdout for the result
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), tmp, corpus_values=args.corpus_values)
    finally:
        sys.stdout.flush()
        os.dup2(result_fd, 1)
        os.close(result_fd)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
