"""webdedup benchmark: one workload, one seed, one JSON result line.

    python3 dedupbench/run.py --workload crawl_unique --seed 1 --seconds 20 --trace 0

Run from the repository root.  The runner generates its inputs from the
seed, writes them to parquet under ``.bench_work/`` and drives the program
only through its public entry points (``plans.dedupe.run_dedupe``,
``streaming.incremental.ingest_neardup_batch``, ``plans.queries.ALL_QUERIES``,
``session.get_spark`` / ``session.warm_python_workers``) on
``local[<cores>]``.  Every operation's output is checked against the
planted truth.  The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run interleaves untraced and traced ``run_dedupe`` operations
(untraced, traced, traced, untraced, ...), with the Spark event log on for
both; the ratio of their mean walls estimates the overhead of the span
wrappers with a linear speed-up of the session cancelled out.  After them
it runs the two other write and read paths on inputs cut from the same
seed: ``ingest_neardup_batch`` over a base batch and a few micro-batches,
and one cold and one warm pass over the query catalog's dedup chain.  The
spans, each with the Spark work charged to it, are written to
``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import random
import sys
import tempfile
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import corpus  # noqa: E402
import score  # noqa: E402
import spans as tr  # noqa: E402

WORKLOADS = ("crawl_unique", "crawl_dupskew")
# The catalog's dedup query chain, in the order it runs.
CHAIN = (
    "signature_digest", "lsh_bands", "candidate_pairs",
    "verified_pairs", "containment_pairs", "dup_clusters",
    "best_pick", "group_stats", "simhash_pairs",
    "exact_dedup", "url_dedup", "ngram_jaccard",
)
# The traced ingest: a base batch, then micro-batches of new pages, each
# with some pages of earlier batches delivered again (re-crawled urls).
INGEST_BASE = 600
INGEST_BATCH = 200
INGEST_BATCHES = 3
INGEST_RECRAWL = 10
INGEST_PHASES = ("bloom", "sign", "band_join", "verify", "append", "cc")
# The paper's quality target: an operation whose output scores below it
# fails its check.
RECALL_FLOOR = 0.99
PRECISION_FLOOR = 0.99
# Local mode runs the executors inside the driver JVM.  The session's 48g
# default is sized for a much larger host; with a 2g cap the heap stops
# growing at a size the inputs fit in, so peak RSS tracks the program
# rather than when the collector happened to run.
DRIVER_MEMORY = "2g"
# The warm-up operations run on a smaller input from another seed: the same
# code paths and plan shapes.  The first pays the session's one-time costs;
# operations keep getting faster for a few more, and the second takes the
# steepest part of that out of the timed window.
WARMUP_SCALE = 0.3
WARMUP_SEED = 1_000_003
WARMUP_OPS = 2

E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "dup_pair_recall": "fraction",
    "dup_pair_precision": "fraction",
    "peak_rss_mb": "MB",
    "ckpt_amp": "bytes/byte",
}
LAYER_UNITS = {
    **{f"functions.signatures.{k}": u for k, u in (
        ("wall_s", "s"), ("self_s", "s"), ("jvm_cpu_s", "s"), ("python_s", "s"),
        ("python_mb_sent", "MB"), ("tasks", "count"), ("task_skew", "ratio"),
        ("core_util", "fraction"))},
    **{f"operators.lsh.{k}": u for k, u in (
        ("probe_s", "s"), ("cand_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
        ("pairs", "count"), ("pairs_per_rep", "ratio"), ("hot_tier", "count"))},
    **{f"operators.verify.{k}": u for k, u in (
        ("wall_s", "s"), ("python_s", "s"), ("shuffle_mb", "MB"),
        ("pass_ratio", "fraction"))},
    **{f"operators.cluster.{k}": u for k, u in (
        ("wall_s", "s"), ("jobs", "count"), ("edges", "count"),
        ("components", "count"))},
    "plans.dedupe.report.wall_s": "s",
    **{f"sources.checkpoint.{k}": u for k, u in (
        ("write_s", "s"), ("write_mb", "MB"), ("read_s", "s"), ("calls", "count"),
        ("lineage_s", "s"))},
    "plans.dedupe.self_s": "s",
    "plans.dedupe.jobs": "count",
    "session.start_s": "s",
    "session.warm_s": "s",
    **{f"streaming.incremental.{k}_s": "s" for k in INGEST_PHASES},
    "streaming.incremental.batch_s": "s",
    "streaming.incremental.jobs_per_batch": "count",
    **{f"plans.queries.{q}.{k}": "s" for q in CHAIN for k in ("cold_s", "warm_s")},
    "trace.overhead_frac": "fraction",
    "trace.layer_cover_frac": "fraction",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def table_column(path: str, column: str | None = None):
    """Row count of a parquet table directory (``column=None``), or the
    values of one of its columns."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    if column is None:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return [v for f in files for v in pq.read_table(f, columns=[column]).column(0).to_pylist()]


class RssMonitor(threading.Thread):
    """Peak resident memory of this process's descendants (the driver JVM
    and its Python workers), sampled from /proc every half second.  Python
    workers are counted by PSS, so the pages forked workers share with
    their daemon count once.  Other processes (the JVM) share nothing with
    the run's other processes, so their RSS equals their PSS; it is read
    from the kernel's counters, because summing PSS walks every page table
    of a multi-GB heap and would load the run it measures."""

    INTERVAL_S = 0.5

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    @staticmethod
    def _descendants() -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        me, out = os.getpid(), []
        for pid in parent:
            p = parent.get(pid)
            while p and p != me:
                p = parent.get(p)
            if p == me:
                out.append(pid)
        return out

    @staticmethod
    def _field(path: str, key: str) -> int:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) * 1024
        return 0

    def _sample(self) -> int:
        total = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    python = f.read().startswith("python")
                total += (self._field(f"/proc/{pid}/smaps_rollup", "Pss:") if python
                          else self._field(f"/proc/{pid}/status", "VmRSS:"))
            except (OSError, ValueError):
                continue  # exited between the scan and the read
        return total

    def run(self) -> None:
        while not self._halt.wait(self.INTERVAL_S):
            self.peak = max(self.peak, self._sample())

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 1e6


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
        self.spark = None
        self.setup: dict[str, float] = {}
        self.ops: list[dict] = []
        self.setup_problems: list[str] = []
        self.digests: list[str] = []
        self.tracer: tr.Tracer | None = None
        self.hooks: tr.Hooks | None = None
        self.peak_rss_mb = 0.0

    # -- environment -----------------------------------------------------
    def configure_env(self) -> None:
        """Keep every file the run writes inside the checkout, size the
        session for this host, and let executor workers import the
        package."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        # the launcher JVM that spark-submit starts first; the driver JVM
        # gets the same options through its conf below
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        tempfile.tempdir = tmp
        conf = [
            f"spark.sql.warehouse.dir={os.path.join(self.work, 'sql-warehouse')}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress=false",
        ]
        if self.trace:
            self.evdir = os.path.join(self.work, "eventlog")
            os.makedirs(self.evdir)
            conf += [
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir=file://{self.evdir}",
                "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false",
            ]
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def start_session(self) -> None:
        from image_deduplication_3m_images_spark.session import (
            get_spark,
            warm_python_workers,
        )

        t0 = time.perf_counter()
        self.spark = get_spark(cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm_python_workers(self.spark, self.cores)
        self.setup["session.start_s"] = t1 - t0
        self.setup["session.warm_s"] = time.perf_counter() - t1
        if self.trace:
            sc = self.spark.sparkContext
            self.tracer = tr.Tracer(
                describe=lambda s: sc.setJobDescription(
                    f"{tr.DESC_PREFIX}{s.id}" if s else None
                )
            )
            self.hooks = tr.Hooks(self.tracer)

    def materialize(self) -> None:
        """Generate the timed input and the smaller warm-up input and write
        them to parquet."""
        t0 = time.perf_counter()
        gen, size = {
            "crawl_unique": (corpus.crawl_unique, corpus.UNIQUE_DOCS),
            "crawl_dupskew": (corpus.crawl_dupskew, corpus.DUPSKEW_DOCS),
        }[self.workload]
        warm = gen(self.seed + WARMUP_SEED, int(size * WARMUP_SCALE))
        self.pages = gen(self.seed, size)
        self.warm_truth, self.truth, self.n_docs = warm.truth, self.pages.truth, len(self.pages)
        warm_path = os.path.join(self.work, "input-warmup")
        path = os.path.join(self.work, "input")
        corpus.write_parts(corpus.pages_table(warm), warm_path)
        self.input_bytes = corpus.write_parts(corpus.pages_table(self.pages), path)
        self.pages_df = self.spark.read.parquet(path)
        self.warm_df = self.spark.read.parquet(warm_path)
        self.setup["materialize_s"] = time.perf_counter() - t0

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def op_span(self, traced: bool, name: str, layer: str, **attrs):
        """Root span of one operation; the layer wrappers are installed
        only while a traced operation runs."""
        if not traced:
            yield None
            return
        self.hooks.install()
        try:
            with self.tracer.span(name, layer, **attrs) as s:
                yield s
        finally:
            self.hooks.remove()

    def span(self, traced: bool, name: str, layer: str):
        return self.tracer.span(name, layer) if traced else contextlib.nullcontext()

    # -- checks ----------------------------------------------------------
    def check(self, rows: list[tuple], truth: dict) -> dict:
        problems = score.report_problems(rows, truth.keys())
        out = {"problems": problems, "digest": score.digest(rows)}
        if problems:
            return out
        s = score.pair_scores({r[0]: r[1] for r in rows}, truth)
        out.update(recall=s["recall"], precision=s["precision"])
        if s["recall"] < RECALL_FLOOR:
            problems.append(f"dup-pair recall {s['recall']:.4f} < {RECALL_FLOOR}")
        if s["precision"] < PRECISION_FLOOR:
            problems.append(f"dup-pair precision {s['precision']:.4f} < {PRECISION_FLOOR}")
        return out

    def same_digest(self, rec: dict) -> None:
        """Identical operations on identical input must give identical
        output: the first digest of the run is the reference."""
        if self.digests and rec["digest"] != self.digests[0]:
            rec["problems"].append(
                f"digest {rec['digest']} differs from {self.digests[0]}"
            )
        self.digests.append(rec["digest"])

    # -- the timed window --------------------------------------------------
    def window(self, op) -> None:
        """Run ``op(i, traced)`` until at least ``min_ops`` operations have
        run and ``--seconds`` have passed.  The benchmark's ``run_seconds``
        is shorter than ``min_ops`` operations, so the count does not follow
        the host's speed: the session is still getting faster from one
        operation to the next, and a count that followed the host would
        amplify host noise.  A traced run makes at least one
        untraced-traced-traced-untraced cycle."""
        min_ops = 4 if self.trace else 2
        monitor = RssMonitor()
        monitor.start()
        deadline = time.perf_counter() + self.seconds
        try:
            i = 0
            while i < min_ops or time.perf_counter() < deadline:
                rec = {"kind": "crawl", "traced": self.trace and i % 4 in (1, 2),
                       "problems": []}
                try:
                    rec.update(op(i, rec["traced"]))
                except Exception:
                    log(traceback.format_exc())
                    rec["problems"].append("raised")
                if rec["problems"]:
                    log(f"{self.workload} op {i} failed: {rec['problems']}")
                self.ops.append(rec)
                i += 1
        finally:
            self.peak_rss_mb = monitor.stop()

    # -- operations ----------------------------------------------------
    def crawl_op(self, i: int, traced: bool) -> dict:
        """One run_dedupe over the input (i = -1: the warm-up input) into a
        fresh warehouse, plus a noop write of its report."""
        from image_deduplication_3m_images_spark.plans.dedupe import run_dedupe

        pages = self.warm_df if i < 0 else self.pages_df
        truth = self.warm_truth if i < 0 else self.truth
        wh = os.path.join(self.work, f"warehouse{i}")
        try:
            with self.op_span(traced, "op", "bench") as root:
                t0 = time.perf_counter()
                with self.span(traced, "plans.dedupe", "plans.dedupe"):
                    report = run_dedupe(self.spark, pages, wh, resume=False)
                with self.span(traced, "sink", "bench"):
                    report.write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
            rec = {"wall_s": wall, "docs": self.n_docs, "ckpt_amp": du(wh) / self.input_bytes}
            rows = [tuple(r) for r in report.select("url", "cluster_id", "is_best").collect()]
            rec.update(self.check(rows, truth))
            if traced:
                rec["root"] = root.id
                rec.update(self.stage_counts(wh))
            return rec
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def stage_counts(self, wh: str) -> dict:
        """Per-stage counts of a traced run_dedupe, read from its warehouse
        and from the wrapped calls; outside every span."""
        pairs = table_column(os.path.join(wh, "candidate_pairs"))
        reps = len(set(table_column(os.path.join(wh, "signatures"), "text_sha256")))
        verified = sum(map(bool, table_column(os.path.join(wh, "verified_pairs"), "verified")))
        probe = self.hooks.captured.get("probe", [])
        out = {
            "pairs": pairs,
            "pairs_per_rep": pairs / reps if reps else 0.0,
            "pass_ratio": verified / pairs if pairs else 0.0,
            "hot_tier": float(any(p[2]["hot_detected"] for p in probe)),
        }
        edges = comps = 0
        for args, kwargs, assignments in self.hooks.captured.pop("cc", []):
            edges += (args[0] if args else kwargs["edges"]).count()
            comps += assignments.select("cluster_id").distinct().count()
        self.hooks.captured.clear()
        out.update(edges=edges, components=comps)
        return out

    def attempt(self, kind: str, fn) -> dict:
        """Run ``fn()``, which returns an operation record, and keep the
        record; an exception fails the operation."""
        rec = {"kind": kind, "traced": True, "problems": []}
        try:
            rec.update(fn())
        except Exception:
            log(traceback.format_exc())
            rec["problems"].append("raised")
        if rec["problems"]:
            log(f"{self.workload} {kind} failed: {rec['problems']}")
        self.ops.append(rec)
        return rec

    def ingest_pass(self) -> None:
        """``ingest_neardup_batch`` into a fresh warehouse: a base batch cut
        from the input, then micro-batches of the next pages, each with
        pages of earlier batches delivered again.  Planted duplicates fall
        within and across batches.  The clusters after the last batch are
        checked against the truth of the pages ingested."""
        from image_deduplication_3m_images_spark.config import DedupConfig
        from image_deduplication_3m_images_spark.sources.checkpoint import make_catalog
        from image_deduplication_3m_images_spark.streaming.incremental import (
            ingest_neardup_batch,
            read_clusters,
        )

        table = corpus.pages_table(self.pages)
        rng = random.Random(self.seed)
        bounds = [0, INGEST_BASE] + [
            INGEST_BASE + k * INGEST_BATCH for k in range(1, INGEST_BATCHES + 1)]
        paths = []
        for k, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            rows = list(range(lo, hi)) + (rng.sample(range(lo), INGEST_RECRAWL) if k else [])
            paths.append(os.path.join(self.work, "ingest-input", f"batch{k}"))
            corpus.write_parts(table.take(rows), paths[-1])
        cat = make_catalog(self.spark, os.path.join(self.work, "ingest-warehouse"))
        cfg = DedupConfig()

        def batch(k, path):
            df = self.spark.read.parquet(path)
            t0 = time.perf_counter()
            with self.tracer.phases("streaming.incremental.batch", "streaming.incremental",
                                    first="bloom") as ph:
                self.hooks.phases = ph
                try:
                    ingest_neardup_batch(self.spark, df, k, cat, cfg)
                finally:
                    self.hooks.phases = None
            return {"wall_s": time.perf_counter() - t0,
                    "root": ph.span.id}

        self.hooks.install("ingest")
        try:
            recs = [self.attempt("ingest", lambda: batch(k, p)) for k, p in enumerate(paths)]
        finally:
            self.hooks.remove()
        truth = {u: self.truth[u] for u in self.pages.urls[:bounds[-1]]}
        rows = [(r[0], r[1], None) for r in read_clusters(cat).select("url", "cluster_id").collect()]
        checked = self.check(rows, truth)
        recs[-1]["problems"] += checked.pop("problems")
        recs[-1].update(checked)

    def query_pass(self) -> None:
        """The query catalog's dedup chain over a generated ``documents``
        table, in a directory the session has never read, so the catalog's
        per-(session, directory) stage memo starts cold; then the chain
        again, warm.  Each pass checks ``best_pick`` against the truth, and
        the warm pass must return what the cold one did."""
        import pyarrow.parquet as pq

        from image_deduplication_3m_images_spark.plans.queries import ALL_QUERIES

        docs = corpus.catalog_documents(self.seed)
        sf = os.path.join(self.work, "catalog")
        os.makedirs(sf)
        # one file, as the catalog's own testdata ships its tables
        pq.write_table(corpus.documents_table(docs), os.path.join(sf, "documents.parquet"))

        def chain(label):
            times = {}
            with self.tracer.span(f"queries.{label}", "bench") as root:
                for q in CHAIN:
                    with self.tracer.span(f"plans.queries.{q}", "plans.queries"):
                        t0 = time.perf_counter()
                        ALL_QUERIES[q](self.spark, sf).write.format("noop").mode(
                            "overwrite").save()
                        times[q] = time.perf_counter() - t0
            best = ALL_QUERIES["best_pick"](self.spark, sf)
            rows = [tuple(r) for r in best.select("doc_id", "cluster_id", "is_best").collect()]
            return {"pass": label, "times": times, "root": root.id,
                    "wall_s": sum(times.values()), **self.check(rows, docs.truth)}

        cold = self.attempt("queries", lambda: chain("cold"))
        warm = self.attempt("queries", lambda: chain("warm"))
        if "digest" in cold and warm.get("digest") not in (None, cold["digest"]):
            warm["problems"].append(f"warm digest {warm['digest']} != cold {cold['digest']}")

    # -- results ---------------------------------------------------------
    def run(self) -> dict:
        self.configure_env()
        self.start_session()
        self.materialize()
        t0 = time.perf_counter()
        for _ in range(WARMUP_OPS):  # outside the window
            self.setup_problems += self.crawl_op(-1, False)["problems"]
        self.setup["warmup_ops_s"] = time.perf_counter() - t0
        self.setup_s = time.perf_counter() - T_START
        log(f"setup_s {self.setup_s:.3f}: " + ", ".join(
            f"{k} {v:.3f}" for k, v in self.setup.items()))
        self.window(self.crawl_op)
        for rec in self.ops:
            if "digest" in rec:
                self.same_digest(rec)
        if self.trace:
            self.ingest_pass()
            self.query_pass()
        for rec in self.ops:
            print(f"op {rec['kind']} traced={int(rec['traced'])} "
                  f"wall_s={rec.get('wall_s', 0):.3f} recall={rec.get('recall')} "
                  f"precision={rec.get('precision')} digest={rec.get('digest')} "
                  f"problems={rec['problems']}")
        return self.result()

    def result(self) -> dict:
        ok = [r for r in self.ops if not r["problems"]]
        failed = len(self.ops) - len(ok)
        crawl = [r for r in ok if r["kind"] == "crawl"]
        if not crawl:
            raise RuntimeError("no run_dedupe operation passed its check")
        if self.trace:
            metrics = self.layer_metrics(crawl)
            units = LAYER_UNITS
        else:
            metrics = self.e2e_metrics(crawl)
            units = E2E_UNITS
        return {
            "correct": failed == 0 and not self.setup_problems,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def e2e_metrics(self, ok: list[dict]) -> dict:
        med = statistics.median
        return {
            "setup_s": self.setup_s,
            "docs_per_s": med(r["docs"] / r["wall_s"] for r in ok),
            "dup_pair_recall": med(r["recall"] for r in ok),
            "dup_pair_precision": med(r["precision"] for r in ok),
            "peak_rss_mb": self.peak_rss_mb,
            "ckpt_amp": med(r["ckpt_amp"] for r in ok),
        }

    def layer_metrics(self, ok: list[dict]) -> dict:
        """Per-layer metrics from the spans and the event-log work charged
        to each: of the traced run_dedupe operations, the ingest batches
        after the base batch (median over each), and the query passes."""
        self.spark.stop()
        self.spark = None
        work = tr.parse_eventlog(self.evdir)
        spans = self.tracer.spans
        self.tracer.dump(os.path.join(
            ROOT, ".bench_work", "traces", f"{self.workload}-seed{self.seed}.json"), work)

        def tree(rec):
            return tr.subtree(spans, spans[rec["root"]])

        traced = [r for r in ok if r["traced"]]
        untraced = [r for r in ok if not r["traced"]]
        per_op = []
        for rec in traced:
            per_op.append(self.op_layers(rec, tree(rec), work))
            self.print_layer_table(f"run_dedupe (op wall {rec['wall_s']:.3f} s)", [tree(rec)])
        out = {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}
        out["session.start_s"] = self.setup["session.start_s"]
        out["session.warm_s"] = self.setup["session.warm_s"]
        out["trace.overhead_frac"] = (
            statistics.mean(r["wall_s"] for r in traced)
            / statistics.mean(r["wall_s"] for r in untraced) - 1
            if untraced else 0.0
        )

        def med(xs):
            xs = list(xs)
            return statistics.median(xs) if xs else 0.0

        batches = [tree(r) for r in self.ops if r["kind"] == "ingest" and "root" in r][1:]
        if batches:
            self.print_layer_table(f"{len(batches)} ingest batches after the base", batches)
        for p in INGEST_PHASES:
            name = f"streaming.incremental.{p}"
            out[f"{name}_s"] = med(sum(s.dur for s in S if s.name == name) for S in batches)
        out["streaming.incremental.batch_s"] = med(S[0].dur for S in batches)
        out["streaming.incremental.jobs_per_batch"] = med(
            tr.work_of(S, work).jobs for S in batches)
        passes = {r["pass"]: r["times"] for r in self.ops if r["kind"] == "queries" and "pass" in r}
        for q in CHAIN:
            for label in ("cold", "warm"):
                out[f"plans.queries.{q}.{label}_s"] = passes.get(label, {}).get(q, 0.0)
        for r in self.ops:
            if r["kind"] == "queries" and "root" in r:
                self.print_layer_table(f"query chain, {r['pass']}", [tree(r)])
        return out

    def op_layers(self, rec: dict, S: list, work: dict) -> dict:
        st = tr.self_times(S)
        by_id = {s.id: s for s in S}

        def outer(ss):
            ids = {s.id for s in ss}
            out = []
            for s in ss:
                p = s.parent
                while p is not None and p not in ids:
                    p = by_id[p].parent if p in by_id else None
                if p is None:
                    out.append(s)
            return out

        def named(*names):
            return [s for s in S if s.name in names]

        def layer(name):
            return [s for s in S if s.layer == name]

        def dur(ss):
            return sum(s.dur for s in outer(ss))

        def self_s(ss):
            return sum(st[s.id] for s in ss)

        def w(ss):
            return tr.work_of(ss, work)

        m = {}
        sig = layer("functions.signatures")
        ws, wall = w(sig), dur(sig)
        m.update({
            "functions.signatures.wall_s": wall,
            "functions.signatures.self_s": self_s(sig),
            "functions.signatures.jvm_cpu_s": ws.jvm_cpu_s,
            "functions.signatures.python_s": ws.python_s,
            "functions.signatures.python_mb_sent": ws.python_sent_b / 1e6,
            "functions.signatures.tasks": ws.tasks,
            "functions.signatures.task_skew": ws.task_skew,
            "functions.signatures.core_util": (
                (ws.jvm_cpu_s + ws.python_s) / (wall * self.cores) if wall else 0.0),
        })
        wl = w(layer("operators.lsh"))
        m.update({
            "operators.lsh.probe_s": dur(named("operators.lsh.probe")),
            "operators.lsh.cand_s": dur(named("operators.lsh", "operators.lsh.build")),
            "operators.lsh.shuffle_mb": wl.shuffle_write_b / 1e6,
            "operators.lsh.spill_mb": wl.spill_b / 1e6,
            "operators.lsh.pairs": rec.get("pairs", 0),
            "operators.lsh.pairs_per_rep": rec.get("pairs_per_rep", 0.0),
            "operators.lsh.hot_tier": rec.get("hot_tier", 0.0),
        })
        ver = layer("operators.verify")
        wv = w(ver)
        m.update({
            "operators.verify.wall_s": dur(ver),
            "operators.verify.python_s": wv.python_s,
            "operators.verify.shuffle_mb": wv.shuffle_write_b / 1e6,
            "operators.verify.pass_ratio": rec.get("pass_ratio", 0.0),
        })
        cc = layer("operators.cluster")
        m.update({
            "operators.cluster.wall_s": dur(cc),
            "operators.cluster.jobs": w(cc).jobs,
            "operators.cluster.edges": rec.get("edges", 0),
            "operators.cluster.components": rec.get("components", 0),
            "plans.dedupe.report.wall_s": dur(layer("plans.dedupe.report")),
        })
        writes = named("sources.checkpoint.write")
        written = [d for s in writes for d in tr.subtree(S, s)]
        m.update({
            "sources.checkpoint.write_s": self_s(writes),
            "sources.checkpoint.write_mb": w(written).output_b / 1e6,
            "sources.checkpoint.read_s": dur(named("sources.checkpoint.read")),
            "sources.checkpoint.calls": len(outer(
                [s for s in S if s.layer == "sources.checkpoint"
                 and s.name != "sources.checkpoint.data"])),
            "sources.checkpoint.lineage_s": dur(named("sources.checkpoint.lineage")),
        })
        root = named("plans.dedupe")
        m["plans.dedupe.self_s"] = self_s(root)
        m["plans.dedupe.jobs"] = w(root).jobs
        top = S[0]
        program = sum(st[s.id] for s in S if s.layer != "bench")
        m["trace.layer_cover_frac"] = program / top.dur if top.dur else 0.0
        return m

    def print_layer_table(self, title: str, trees: list[list]) -> None:
        """Self time per layer, summed over the span trees."""
        wall = sum(S[0].dur for S in trees)
        layers: dict[str, float] = {}
        for S in trees:
            for name, v in tr.layer_self(S).items():
                layers[name] = layers.get(name, 0.0) + v
        print(f"layer self time, {self.workload} seed {self.seed}, {title}, "
              f"traced wall {wall:.3f} s")
        for name, v in sorted(layers.items(), key=lambda kv: -kv[1]):
            print(f"  {name:<32} {v:8.3f} s {100 * v / wall:6.1f} %")
        print(f"  {'sum':<32} {sum(layers.values()):8.3f} s")

    def close(self) -> None:
        """Stop the session and its JVM, wait for the JVM to exit, and
        remove the run's files; also after a failure."""
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            if "pyspark" in sys.modules:
                stop_jvm()
            shutil.rmtree(self.work, ignore_errors=True)


def stop_jvm() -> None:
    """The JVM exits when its stdin closes; close it and wait, so no
    process of the run outlives it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, tr.PKG)):
        log(f"program package {tr.PKG!r} not found under {ROOT}")
        return 2
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
