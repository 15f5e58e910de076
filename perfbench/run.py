"""KG-construction benchmark: documents -> entity and edge tables.

    python3 perfbench/run.py --workload crawl-pooled --seed 1 --seconds 10 --trace 0

One process, one job at a time (a closed loop with one client), on
``local[<cpus>]``.  Steps:

1. Generate the workload's slices from ``--seed`` (``gen.py``) and write
   each as parquet.  Nothing is timed yet.
2. Set-up: start the session (``session.get_spark``) and run the
   workload's entry point once on the fixed warm-up slice.  ``setup_s`` is
   the time from the start of this step until the warm-up finishes: JVM
   and session start, Python-worker spawn and lexicon load.
3. Timed passes, each over a slice no earlier pass saw, until
   ``--seconds`` have passed and at least ``MIN_PASSES`` ran:
   ``run_kg_pipeline(persist=True)`` with the annotated, triples, entities
   and edges tables each materialized.
4. Output checks (not timed): every annotated row is checked in Spark
   (non-null, analyses and mention spans consistent with the tokens, arcs
   one per token); a seeded sample of URLs is re-annotated in this process
   and must match the Spark rows exactly; the triples/entities/edges
   digest of every slice is stored per source tree, workload, seed and
   slice under ``.perfbench_out/`` and must equal any earlier run's (the
   fixed warm-up slice's digest is the same for every run of a commit).

End-to-end metrics (``--trace 0``):

- ``setup_s``: step 2's time.
- ``sentences_per_s``: sentence rows annotated over a pass's wall time
  (reading the input to materializing the edges), median over passes.
- ``cpu_ms_per_sent``: user+sys CPU of the whole process tree (this
  process, the JVM, the Python workers) per sentence row, median over
  passes.
- ``py_peak_rss_mb``: peak summed RSS of the tree's Python processes during
  the timed passes, where the annotation caches live (the JVM's, which
  follows its collector, is the per-layer ``jvm.peak_rss_mb``).
- ``ok_share``: 1 - failed / attempted sentence rows; a row fails when it
  is null, fails the row checks or differs from the in-process kernel,
  and every sentence of a pass that raised fails.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the per-layer ones (spans around the program's public
functions, the Spark event log, the in-process kernel, one staged-job
pass).  The exit code is 1 when an output check fails and 2 when the
program cannot be found.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import kernel  # noqa: E402
import procstat  # noqa: E402
from spans import Tracer, event_log_totals  # noqa: E402

# Docs per timed slice: a pass takes 2.5-4 s on 4 unthrottled cores, and
# 2-3x that when the host throttles.  Crawl-pooled's per-row work is small,
# so its slices are larger, to keep the per-action overhead, which the
# JVM's compiler is still shrinking over the first passes, a minority.
PASS_DOCS = {"crawl-pooled": 10000, "open-vocab": 2000}
# Passes per run at least.  A run is mostly fixed cost (JVM start, worker
# spawn, lexicon load), which a throttled host doubles; two passes keep a
# run under a minute there.  A traced run alternates traced and untraced
# passes and leaves the first traced one, which also absorbs the
# first-pass warm-up, out of ``trace.overhead``.
MIN_PASSES = {False: 2, True: 4}
SPARE_SLICES = 1  # timed slices beyond MIN_PASSES, for a host fast enough to use them
PARITY_URLS = 8        # URLs per pass re-annotated in this process
KERNEL_MAX_ROWS = 1500  # sentence rows the traced kernel run covers
STAGES = ("annotate", "triples", "entities", "edges")
LINEAGE = ("sentences", "annotated", "mentions", "triples", "entities", "edges")

END_TO_END = {
    "setup_s": "s",
    "sentences_per_s": "1/s",
    "cpu_ms_per_sent": "ms",
    "py_peak_rss_mb": "MB",
    "ok_share": "share",
}
PER_LAYER = {
    "session.start_s": "s",
    "kernel.first_call_s": "s",
    "split.us_per_doc": "us",
    "tokenize.us_per_sent": "us",
    "morph.us_per_token.cold": "us",
    "morph.us_per_token.warm": "us",
    "morph.unknown_share": "share",
    "ner.us_per_sent": "us",
    "ner.mentions_per_sent": "count",
    "parse.us_per_sent.cold": "us",
    "parse.us_per_sent.warm": "us",
    "parse.refused_share": "share",
    "parse.malformed_share": "share",
    "kernel.ms_per_sent.cold": "ms",
    "kernel.ms_per_sent.warm": "ms",
    "stage.plan_s": "s",
    **{f"stage.{s}_s": "s" for s in STAGES},
    **{f"stage.{s}.rows": "count" for s in STAGES},
    "stage.annotate.udf_overhead_s": "s",
    "stage.entities.shuffle_write_bytes": "bytes",
    "stage.edges.shuffle_write_bytes": "bytes",
    "stage.spill_bytes": "bytes",
    "read.input_bytes": "bytes",
    "read.file_bytes": "bytes",
    **{f"lineage.{s}_s": "s" for s in LINEAGE},
    "lineage.bytes_written": "bytes",
    "kg_job.main_s": "s",
    "input.repeat_sentence_share": "share",
    "input.new_token_share": "share",
    "input.html_bytes_per_doc": "bytes",
    "trace.overhead": "share",
    "trace.stage_coverage": "share",
    "host.steal_pct": "%",
    "jvm.peak_rss_mb": "MB",
    "host.probe_ms": "ms",
}


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def source_digest() -> str:
    """Hash of the program's and the benchmark's source trees: stored
    output digests are only compared between runs of the same code."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "vnlp_spark"), HERE):
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(files):
                if name.endswith(".pyc"):
                    continue
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.out = os.path.join(ROOT, ".perfbench_out")
        self.work = os.path.join(
            self.out, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
        self.tracer = Tracer()
        self.failed = 0
        self.attempted = 0
        self.problems: list = []
        self.passes: list = []
        self.parity: list = []  # (text, [spark rows]) per sampled URL
        self.digests: dict = {}
        self.probes: list = []  # host_probe_s samples, taken outside timing

    # ---------------------------------------------------------------- inputs
    def make_inputs(self) -> None:
        g = gen.Generator(self.workload, self.args.seed)
        n = PASS_DOCS[self.workload]
        self.warmup = g.slice(gen.WARMUP, 0)
        n_slices = MIN_PASSES[self.trace] + SPARE_SLICES
        self.slices = [g.slice(k, n) for k in range(n_slices)]
        n_files = 2 * self.cpus
        self.paths = {}
        self.file_bytes = {}
        extra = []
        if self.trace:
            self.kg_slice = g.slice(n_slices, n // 8)
            extra = [("kg", self.kg_slice)]
        for key, docs in [("warmup", self.warmup)] + extra + list(enumerate(self.slices)):
            self.paths[key] = os.path.join(self.work, "input", str(key))
            self.file_bytes[key] = gen.write_slice(docs, self.paths[key], n_files)

    # --------------------------------------------------------------- session
    def start(self) -> None:
        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from vnlp_spark import session

        if self.trace:
            self.tracer.wrap(session, "get_spark", "session.get_spark")
        t = time.perf_counter()
        self.spark = session.get_spark(cores=self.cpus, extra_conf=conf)
        self.session_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        sc = self.spark.sparkContext
        self.tracer.set_label = lambda d: sc.setLocalProperty("spark.job.description", d)
        self.tracer.unwrap()

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit.  Safe to call twice."""
        if getattr(self, "spark", None) is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        self.spark = None

    # ------------------------------------------------------------ one pass
    def kg_pass(self, path: str, tag: str) -> dict:
        """One documents -> edges pass; returns rows, checks, digests and
        the per-stage wall times, and keeps the result for sampling."""
        from pyspark.sql import functions as F
        from vnlp_spark.plans import pipeline

        sp = self.tracer.span
        t0 = time.perf_counter()
        with sp("pass", tag=tag):
            with sp("stage.plan", label=f"{tag}.plan"):
                docs = self.spark.read.parquet(path)
                r = pipeline.run_kg_pipeline(docs, persist=True)
            stage_s = {"plan": time.perf_counter() - t0}
            t = time.perf_counter()
            with sp("stage.annotate", label=f"{tag}.annotate"):
                ann = r.annotated.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(_bad_row().cast("int")).alias("bad")).collect()[0]
            stage_s["annotate"] = time.perf_counter() - t
            out = {"rows": ann["n"], "bad": ann["bad"] or 0, "digest": {}, "tag": tag,
                   "counts": {"annotate": ann["n"]}}
            for name, df in (("triples", r.triples), ("entities", r.entities),
                             ("edges", r.edges)):
                t = time.perf_counter()
                with sp(f"stage.{name}", label=f"{tag}.{name}"):
                    n, d = _digest(df)
                stage_s[name] = time.perf_counter() - t
                out["digest"][name] = d
                out["counts"][name] = n
        out["wall_s"] = time.perf_counter() - t0
        out["stage_s"] = stage_s
        out["result"] = r
        return out

    @staticmethod
    def release(res: dict) -> None:
        r = res.pop("result", None)
        if r is not None:
            for df in (r.annotated, r.triples, r.entities):
                df.unpersist(blocking=True)

    def sample_parity(self, res: dict, docs: list, k: int) -> None:
        from pyspark.sql import functions as F

        rng = random.Random(f"parity/{self.args.seed}/{k}")
        tr = [d for d in docs if d.lang == "tr"]
        picked = {d.url: d for d in rng.sample(tr, min(PARITY_URLS, len(tr)))}
        rows = res["result"].annotated.filter(F.col("url").isin(list(picked))).select(
            "url", "sent_id", "sentence", "tokens", "analyses", "mentions", "arcs").collect()
        by_url: dict = {u: [] for u in picked}
        for row in rows:
            by_url[row["url"]].append(kernel.spark_row(row))
        self.parity.extend((picked[u].text, rs) for u, rs in by_url.items())

    # ------------------------------------------------------------- the run
    def run(self) -> dict:
        self.cpus = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        self.make_inputs()
        log(f"inputs written in {time.perf_counter() - t:.1f}s")

        self.probes.append(procstat.host_probe_s())
        t_setup = time.perf_counter()
        self.start()
        warm = self.kg_pass(self.paths["warmup"], "warmup")
        self.release(warm)
        setup_s = time.perf_counter() - t_setup
        self.digests["warmup"] = warm["digest"]
        log(f"setup {setup_s:.2f}s (session {self.session_s:.2f}s)")

        steal0 = procstat.host_jiffies()
        t_loop = time.perf_counter()
        with procstat.RssPeak() as rss:
            for k, docs in enumerate(self.slices):
                if (time.perf_counter() - t_loop >= self.args.seconds
                        and len(self.passes) >= MIN_PASSES[self.trace]):
                    break
                traced = self.trace and k % 2 == 0
                if traced:
                    self._wrap_program()
                cpu0 = procstat.tree_sample()[0]
                try:
                    res = self.kg_pass(self.paths[k], f"p{k}")
                except Exception:  # one failed pass is counted, not fatal
                    self.tracer.unwrap()
                    n = sum(len(d.sentences) for d in docs if d.lang == "tr")
                    self.attempted += n
                    self.failed += n
                    self.problems.append(f"pass {k} raised:\n{traceback.format_exc()}")
                    log(self.problems[-1])
                    continue
                res["cpu_s"] = procstat.tree_sample()[0] - cpu0
                self.tracer.unwrap()
                res["traced"] = traced
                self.sample_parity(res, docs, k)
                self.release(res)
                self.attempted += res["rows"]
                self.failed += res["bad"]
                self.digests[str(k)] = res["digest"]
                self.passes.append(res)
                log(f"pass {k}{' traced' if traced else ''}: {res['rows']} rows "
                    f"in {res['wall_s']:.2f}s, cpu {res['cpu_s']:.1f}s, rss python "
                    f"{rss.peak_python / 2**20:.0f} MB jvm {rss.peak_jvm / 2**20:.0f} MB, "
                    f"counts {res['counts']}")
        steal1 = procstat.host_jiffies()
        self.probes.append(procstat.host_probe_s())

        layer = {}
        if self.trace:
            layer = self.trace_layers()
        self.stop()

        if self.trace:
            layer.update(self.event_layers())
            layer["jvm.peak_rss_mb"] = rss.peak_jvm / 2**20
            layer["host.steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(
                steal1[1] - steal0[1], 1)
            used = [self.slices[int(p["tag"][1:])] for p in self.passes]
            layer.update(gen.descriptors(self.warmup, used))
            os.makedirs(os.path.join(self.out, "traces"), exist_ok=True)
            self.tracer.dump(os.path.join(
                self.out, "traces", f"{self.workload}-{self.args.seed}.json"))

        self.check_parity()
        self.check_stored_digests()
        if not self.passes:
            self.problems.append("no pass completed")
        if self.failed:
            self.problems.append(f"{self.failed} of {self.attempted} sentence rows failed")
        for p in self.problems:
            log("CHECK FAILED:", p)

        probe = statistics.median(self.probes)
        log(f"host probe {1e3 * probe:.1f} ms")
        if self.trace:
            layer["host.probe_ms"] = 1e3 * probe
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            pick = self.passes or [{"rows": 1, "wall_s": 1.0, "cpu_s": 1.0}]
            metrics = {
                "setup_s": setup_s,
                "sentences_per_s": statistics.median(p["rows"] / p["wall_s"] for p in pick),
                "cpu_ms_per_sent": statistics.median(
                    1e3 * p["cpu_s"] / max(p["rows"], 1) for p in pick),
                "py_peak_rss_mb": rss.peak_python / 2**20,
                "ok_share": 1.0 - self.failed / max(self.attempted, 1),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        return {"correct": not self.problems, "attempted": max(self.attempted, 1),
                "failed": self.failed, "metrics": metrics}

    # ------------------------------------------------------------- checks
    def check_parity(self) -> None:
        bad = 0
        for text, rows in self.parity:
            bad += kernel.parity_mismatches(text, rows)
        if bad:
            self.failed += bad
            self.problems.append(f"{bad} sampled sentence rows differ from the in-process kernel")
        log(f"parity: {len(self.parity)} URLs re-annotated, {bad} rows differ")

    def check_stored_digests(self) -> None:
        path = os.path.join(self.out, "digests.json")
        try:
            with open(path) as f:
                store = json.load(f)
        except (OSError, ValueError):
            store = {}
        src = source_digest()
        for slice_key, d in self.digests.items():
            # the fixed warm-up slice is the same input for every workload and seed
            key = (f"{src}/warmup" if slice_key == "warmup"
                   else f"{src}/{self.workload}/{self.args.seed}")
            known = store.setdefault(key, {})
            if slice_key in known and known[slice_key] != d:
                self.problems.append(
                    f"slice {slice_key} digest {d} differs from an earlier run's {known[slice_key]}")
            known.setdefault(slice_key, d)
        with open(path + ".tmp", "w") as f:
            json.dump(store, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)

    # -------------------------------------------------------------- tracing
    def _wrap_program(self) -> None:
        from vnlp_spark.plans import pipeline

        for fn in ("run_kg_pipeline", "sentences_stage", "annotate_stage",
                   "annotated_documents_stage", "mentions_stage", "triples_stage",
                   "entities_stage", "edges_stage"):
            self.tracer.wrap(pipeline, fn, f"pipeline.{fn}")

    def trace_layers(self) -> dict:
        """Per-layer numbers that need the live session or this process:
        the staged job pass, then the in-process kernel."""
        from vnlp_spark.bin import kg_job
        from vnlp_spark.plans import lineage

        layer = {}
        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        layer["stage.plan_s"] = statistics.median(p["stage_s"]["plan"] for p in traced)
        for s in STAGES:
            layer[f"stage.{s}_s"] = statistics.median(p["stage_s"][s] for p in traced)
            layer[f"stage.{s}.rows"] = statistics.median(p["counts"][s] for p in traced)
        layer["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced[1:])
                                   / statistics.median(p["wall_s"] for p in plain) - 1.0)
        # the stage spans of a traced pass over the wall of an untraced one
        layer["trace.stage_coverage"] = (
            statistics.median(sum(p["stage_s"].values()) for p in traced[1:])
            / statistics.median(p["wall_s"] for p in plain))
        layer["session.start_s"] = self.tracer.by_name("session.get_spark")[0]["end"] - \
            self.tracer.by_name("session.get_spark")[0]["start"]

        kg_out = os.path.join(self.work, "kg")
        self._wrap_program()
        self.tracer.wrap(kg_job, "main", "kg_job.main")
        self.tracer.wrap(lineage.StageRunner, "run",
                         lambda _self, stage, *a, **k: (f"lineage.{stage}", f"kg.{stage}"))
        try:
            rc = kg_job.main(["--input", self.paths["kg"], "--output", kg_out, "--force"])
        finally:
            self.tracer.unwrap()
        if rc != 0:
            self.problems.append(f"kg_job.main returned {rc}")
        for s in LINEAGE:
            sp = self.tracer.by_name(f"lineage.{s}")[-1]
            layer[f"lineage.{s}_s"] = sp["end"] - sp["start"]
        sp = self.tracer.by_name("kg_job.main")[-1]
        layer["kg_job.main_s"] = sp["end"] - sp["start"]
        layer["lineage.bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(kg_out) for f in fs)

        # the in-process kernel over the first traced pass's documents:
        # first call (lexicon loads), then cold and warm runs
        layer["kernel.first_call_s"] = kernel.first_call_s()
        docs, rows = [], 0
        for d in self.slices[int(traced[0]["tag"][1:])]:
            if d.lang != "tr":
                continue
            docs.append(d.text)
            rows += len(d.sentences)
            if rows >= KERNEL_MAX_ROWS:
                break
        with self.tracer.span("kernel.cold") as sp_cold:
            cold = kernel.KernelTimes().run(docs)
            sp_cold["attrs"] = {"busy_s": cold.busy, "rows": cold.rows}
        with self.tracer.span("kernel.warm") as sp_warm:
            warm = kernel.KernelTimes().run(docs)
            sp_warm["attrs"] = {"busy_s": warm.busy, "rows": warm.rows}
        c = max(cold.computed, 1)
        layer.update({
            "split.us_per_doc": 1e6 * cold.busy["split"] / max(cold.docs, 1),
            "tokenize.us_per_sent": 1e6 * cold.busy["tokenize"] / c,
            "morph.us_per_token.cold": 1e6 * cold.busy["morph"] / max(cold.tokens, 1),
            "morph.us_per_token.warm": 1e6 * warm.busy["morph"] / max(warm.tokens, 1),
            "morph.unknown_share": cold.unknown / max(cold.tokens, 1),
            "ner.us_per_sent": 1e6 * cold.busy["ner"] / c,
            "ner.mentions_per_sent": cold.mentions / c,
            "parse.us_per_sent.cold": 1e6 * cold.busy["parse"] / c,
            "parse.us_per_sent.warm": 1e6 * warm.busy["parse"] / max(warm.computed, 1),
            "parse.refused_share": cold.refused / c,
            "parse.malformed_share": cold.malformed / max(cold.parsed, 1),
            "kernel.ms_per_sent.cold": 1e3 * cold.total_s / max(cold.rows, 1),
            "kernel.ms_per_sent.warm": 1e3 * warm.total_s / max(warm.rows, 1),
        })
        # kernel time the first traced pass's annotate stage spent, scaled
        # from the covered prefix of its documents
        self._kernel_pass_s = cold.total_s * traced[0]["rows"] / max(cold.rows, 1)
        return layer

    def event_layers(self) -> dict:
        totals = event_log_totals(self.event_dir)
        traced = [p for p in self.passes if p["traced"]]

        def med(label: str, field: str) -> float:
            return statistics.median(
                totals.get(f"{p['tag']}.{label}", {}).get(field, 0) for p in traced)

        first = traced[0]["tag"]
        return {
            "stage.annotate.udf_overhead_s":
                totals.get(f"{first}.annotate", {}).get("run_s", 0.0) - self._kernel_pass_s,
            "stage.entities.shuffle_write_bytes": med("entities", "shuffle_write_bytes"),
            "stage.edges.shuffle_write_bytes": med("edges", "shuffle_write_bytes"),
            "stage.spill_bytes": statistics.median(
                sum(totals.get(f"{p['tag']}.{s}", {}).get("spill_bytes", 0) for s in STAGES)
                for p in traced),
            "read.input_bytes": med("annotate", "input_bytes"),
            # the input files' size, all columns: the scan's bytes against it
            # show whether ``html`` is pruned
            "read.file_bytes": statistics.median(
                self.file_bytes[int(p["tag"][1:])] for p in traced),
        }


def _bad_row():
    """An annotated row that is null or inconsistent with its own tokens."""
    from pyspark.sql import functions as F

    n = F.size("tokens")
    bad = (
        F.col("tokens").isNull()
        | (F.size("analyses") != n)
        | F.exists("mentions", lambda m: (m["first_tok"] < 0) | (m["last_tok"] >= n)
                   | (m["first_tok"] > m["last_tok"]))
        | (F.col("arcs").isNotNull() & (F.size("arcs") != n))
    )
    return F.coalesce(bad, F.lit(True))


def _digest(df) -> tuple:
    """(rows, order-insensitive content digest) of a table."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
    row = df.select(h).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.col("h"), F.lit(1 << 40))).alias("s"),
        F.expr("bit_xor(h)").alias("x"),
    ).collect()[0]
    return row["n"], f"{row['n']}:{row['s'] or 0}:{row['x'] or 0}"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vnlp_spark")):
        log("the program (vnlp_spark) is not in this checkout")
        return 2
    sys.path.insert(0, ROOT)
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
