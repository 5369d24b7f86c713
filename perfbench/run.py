#!/usr/bin/env python3
"""The repository benchmark: seeded extraction workloads on ``local[4]``.

Run from the repository root::

    python3 perfbench/run.py --workload pdf_mix --seed 1 --seconds 10 --trace 0

One client, closed loop: the benchmark submits one job at a time and the
next only after the previous result is collected. Each timed rep is
``pipeline.extract_documents`` over the whole corpus plus ``bench.py``'s
headline aggregate. Workloads (``WORKLOADS``):

- ``pdf_mix``: the headline shape, ~25% ``pdf`` spans plus interleaved
  media. The pdf lexer carries most of the fold.
- ``markup_text``: the same generator with html instead of pdf spans. The
  lexer is bypassed; html extraction, tokenization and chunking carry the
  fold, and Arrow in/out is a larger share of the wall.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (``layers.py``), including the checkpointed, resumable write
(``plans.checkpoint.run_with_checkpoint``) over the same corpus. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it list every metric with its unit,
including ``output_ok`` and ``failed_ratio``, which the JSON line carries
as ``correct`` and ``failed``/``attempted``, and the single-core CPU
control measured before and after the run (the same-window drift record).
A run whose correctness gate fails prints ``"correct": false`` and exits 1.

``--smoke`` shrinks the corpus to 85 documents, takes one set-up and
prints the end-to-end and the per-layer metrics together.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback
from statistics import median

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
SETUP_SAMPLES = 2
WARM_DOCS = 32  # per set-up: spawns every core's Python worker
WARM_REPS = 3  # full reps discarded before timing: JIT and caches settle
MIN_REPS = 3
GATE_DOCS = 12
REPLAY_QUOTA_STEPS = 2  # fold replay sample: 2 x 85 docs, the corpus mix
PINNED_SEED = 42  # bench.py's corpus: 4000 docs with pdf, seed 42
PINNED = {"docs": 4000, "chunks": 31680, "pages": 19554,
          "decoded_mb": 71.04, "failures": 0}
# the checkpoint probe: 8 buckets, at most 4 in flight, and 108-page docs
# (~415 kB) routed through the one-shuffle split path; 20-page docs stay
# below the threshold (~80-100 kB)
CHECKPOINT = {"num_buckets": 8, "max_concurrent_buckets": 4}
GIANT_DOC_BYTES = 200_000

WORKLOADS = {
    "pdf_mix": {"pdf": True, "html": False, "quota_steps": 10},
    "markup_text": {"pdf": False, "html": True, "quota_steps": 12},
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "pages_per_s": "1/s",
    "worker_peak_rss_mb": "MB", "jvm_peak_rss_mb": "MB",
}
REPORT_ONLY = {
    "output_ok": "bool", "failed_ratio": "ratio",
    "cpu_control.pre_mops": "Mops/s", "cpu_control.post_mops": "Mops/s",
}
PER_LAYER = {
    "lex.self_s": "s", "lex.calls": "count",
    "html.self_s": "s", "html.calls": "count",
    "tokenize.self_s": "s", "tokenize.calls": "count",
    "chunk.self_s": "s", "chunk.calls": "count",
    "fold.self_s": "s", "fold.total_s": "s", "fold.out_rows": "count",
    "fold.child_share": "ratio",
    "scan.noop_s": "s", "pipeline.arrow_in_s": "s",
    "pipeline.extract_noop_s": "s", "pipeline.residual_s": "s",
    "aggregate.s": "s",
    "spark.tasks": "count", "spark.task_sum_s": "s", "spark.task_max_s": "s",
    "spark.core_util": "ratio", "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "checkpoint.run_s": "s", "checkpoint.resume_s": "s",
    "checkpoint.bucket_wall_sum_s": "s", "checkpoint.bucket_wall_max_s": "s",
    "checkpoint.overhead_s": "s", "checkpoint.bytes_written_ratio": "ratio",
    "pipeline.split_noop_s": "s", "pipeline.routed_noop_s": "s",
    "session.persistent_rdds": "count", "session.conf_changed": "count",
    "tmp.residue_entries": "count",
    "scaling.eff_2_4": "ratio", "tracing.overhead_ratio": "ratio",
    "synth.generate_s": "s",
    "cpu_control.pre_mops": "Mops/s", "cpu_control.post_mops": "Mops/s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def headline_counters(df) -> dict:
    """``bench.py``'s headline aggregate over extraction output rows."""
    from pyspark.sql import functions as F

    first = F.col("offset") == 0
    row = df.agg(
        F.countDistinct("doc_id").alias("docs"),
        F.sum(F.when(F.col("kind") == "chunk", 1).otherwise(0))
        .alias("chunks"),
        F.sum(F.when(first, F.col("doc_total_pages")).otherwise(0))
        .alias("pages"),
        F.sum(F.when(first, F.col("doc_bytes_decoded")).otherwise(0))
        .alias("bytes"),
        F.sum(F.when(first, F.col("doc_parse_failures")).otherwise(0))
        .alias("failures"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in row.asDict()}


class Bench:
    """One benchmark run of one workload."""

    def __init__(self, args) -> None:
        import corpus
        import spark_env

        self.args = args
        self.name = args.workload
        self.wl = WORKLOADS[args.workload]
        self.steps = 1 if args.smoke else self.wl["quota_steps"]
        self.corpus_mod, self.env = corpus, spark_env
        self.spark = None
        self.retired = []  # stopped contexts stay referenced (see _setup)
        self.m: dict[str, float] = {}
        self.detail: dict = {"workload": self.name, "seed": args.seed}
        self.checks: dict[str, bool] = {}

    # -- set-up ---------------------------------------------------------

    @staticmethod
    def parse_options(routed: bool = False):
        from fast_pdf_parser_spark.config import ParseOptions

        return ParseOptions(num_partitions=0, giant_doc_bytes=(
            GIANT_DOC_BYTES if routed else 0))

    def _setup(self, event_log: bool) -> float:
        """Fresh JVM -> session -> package shipped -> corpus opened ->
        Python workers warm: the path to the first timed rep. Returns the
        set-up seconds."""
        from fast_pdf_parser_spark.operators.pipeline import extract_documents
        from fast_pdf_parser_spark.util import ship_package

        if self.spark is not None:
            # ship_package remembers shipped contexts by id(); keeping the
            # stopped context alive keeps a new context from reusing its id
            self.retired.append(self.spark.sparkContext)
            self.env.stop(self.spark)
            self.spark = None
        t0 = time.perf_counter()
        spark = self.env.start(CORES, event_log=event_log)
        session_s = time.perf_counter() - t0
        self.spark = spark
        self.base_hygiene = self.env.hygiene(spark)
        t1 = time.perf_counter()
        ship_package(spark)
        self.spans = spark.read.parquet(self.corpus["path"])
        t2 = time.perf_counter()
        # ~WARM_DOCS docs from every input split, so each core's Python
        # worker is spawned and has run the whole fold once
        warm = self.spans.sample(fraction=WARM_DOCS / self.corpus["docs"],
                                 seed=0)
        with layers.job(spark, f"{self.name}/setup.warm"):
            extract_documents(warm,
                              parse_options=self.parse_options()).count()
        t3 = time.perf_counter()
        self.detail.setdefault("setup_parts", []).append(
            {"session": session_s, "open": t2 - t1, "warm": t3 - t2})
        return session_s + t3 - t1

    # -- one timed rep ----------------------------------------------------

    def rep(self) -> tuple[float, dict]:
        from fast_pdf_parser_spark.operators.pipeline import extract_documents

        with layers.job(self.spark, f"{self.name}/extract+aggregate"):
            t0 = time.perf_counter()
            counters = headline_counters(extract_documents(
                self.spans, parse_options=self.parse_options()))
            return time.perf_counter() - t0, counters

    def measure(self) -> None:
        """WARM_REPS discarded reps, then timed reps for ``--seconds``, at
        least MIN_REPS of them."""
        env, spark = self.env, self.spark
        for _ in range(WARM_REPS):
            self.rep()
            env.cooldown(spark)
        walls, counters, hyg = [], [], []
        failed_reps = 0
        worker_rss = 0.0
        t_end = time.perf_counter() + self.args.seconds
        while True:
            try:
                wall, ctr = self.rep()
            except Exception:  # a failed rep is counted, not fatal
                traceback.print_exc()
                failed_reps += 1
            else:
                walls.append(wall)
                counters.append(ctr)
            hyg.append(env.hygiene_delta(self.base_hygiene,
                                         env.hygiene(spark)))
            worker_rss = max(worker_rss, env.worker_peak_rss_mb(spark))
            env.cooldown(spark)
            if (time.perf_counter() >= t_end
                    and len(walls) + failed_reps >= MIN_REPS):
                break
        docs = self.corpus["docs"]
        self.attempted = docs * (len(walls) + failed_reps)
        self.failed = docs * failed_reps + sum(c["failures"] for c in counters)
        self.walls, self.counters, self.hyg = walls, counters, hyg
        self.checks["no_failed_reps"] = failed_reps == 0
        if not walls:
            raise RuntimeError("every timed rep failed")
        wall = median(walls)
        self.m.update({
            "wall_s": wall,
            "pages_per_s": self.corpus["pages"] / wall,
            "worker_peak_rss_mb": worker_rss,
            "jvm_peak_rss_mb": env.peak_rss_mb(env.jvm_pid(spark)),
            "failed_ratio": self.failed / self.attempted,
        })
        self.detail.update(walls=walls, hygiene=hyg, counters=counters[0])

    # -- correctness gate --------------------------------------------------

    def gate(self) -> None:
        """Span-sequence equality against ``api.chunk_document`` on a seeded
        doc sample, counters identical across reps and equal to the corpus
        facts, and bench.py's pinned counters at seed 42 on pdf_mix."""
        with layers.job(self.spark, f"{self.name}/gate"):
            self._gate()

    def _spans_of(self, df, ids) -> dict[str, list]:
        """doc id -> its output span sequence (offset, kind, text, media)."""
        from pyspark.sql import functions as F

        got: dict[str, list] = {d: [] for d in ids}
        for r in (df.filter(F.col("doc_id").isin(ids))
                  .select("doc_id", "offset", "kind", "text", "media_ref")
                  .collect()):
            got[r["doc_id"]].append(
                (r["offset"], r["kind"], r["text"], r["media_ref"]))
        return {d: sorted(v) for d, v in got.items()}

    def _gate(self) -> None:
        from pyspark.sql import functions as F

        from fast_pdf_parser_spark.api import chunk_document
        from fast_pdf_parser_spark.operators.pipeline import extract_documents

        ids = self.corpus_mod.sample_doc_ids(self.corpus, self.args.seed,
                                             GATE_DOCS)
        expected = {d: [] for d in ids}
        for r in self.spans.filter(F.col("doc_id").isin(ids)).collect():
            spans = [s.asDict() for s in r["spans"]]
            expected[r["doc_id"]] = sorted(
                (row[1], row[2], row[3], row[4])
                for row in chunk_document(spans, doc_id=r["doc_id"]))
        self.gate_ids, self.expected_spans = ids, expected
        out = extract_documents(self.spans.filter(F.col("doc_id").isin(ids)),
                                parse_options=self.parse_options())
        self.checks["span_equality"] = (
            all(expected.values()) and self._spans_of(out, ids) == expected)
        c0 = self.counters[0]
        self.checks["counters_stable"] = all(c == c0 for c in self.counters)
        self.checks["counters_match_corpus"] = (
            c0["docs"] == self.corpus["docs"]
            and c0["pages"] == self.corpus["pages"]
            and c0["failures"] == 0 and c0["chunks"] > 0)
        if self.args.seed == PINNED_SEED and self.name == "pdf_mix":
            path = self.corpus_mod.ensure_natural_corpus(
                PINNED["docs"], PINNED_SEED, include_pdf=True)
            c = headline_counters(extract_documents(
                self.spark.read.parquet(path),
                parse_options=self.parse_options()))
            self.checks["pinned_seed42"] = (
                c["docs"] == PINNED["docs"]
                and c["chunks"] == PINNED["chunks"]
                and c["pages"] == PINNED["pages"]
                and round(c["bytes"] / 1e6, 2) == PINNED["decoded_mb"]
                and c["failures"] == PINNED["failures"])

    # -- per-layer probes (traced run) ---------------------------------------

    def replay_docs(self) -> list[dict]:
        """The fold replay sample: REPLAY_QUOTA_STEPS docs per quota
        weight, seeded, so the sample has the corpus's page mix."""
        from pyspark.sql import functions as F

        doc_pages = self.corpus["doc_pages"]
        steps = min(REPLAY_QUOTA_STEPS, self.steps)
        rng = random.Random(f"replay:{self.args.seed}")
        ids = []
        for w, pages in self.corpus_mod.PAGE_QUOTAS:
            pool = sorted(d for d, p in doc_pages.items() if p == pages)
            ids += rng.sample(pool, w * steps)
        rows = self.spans.filter(F.col("doc_id").isin(ids)).collect()
        rows.sort(key=lambda r: r["doc_id"])
        self.replay_share = steps / self.steps
        return [{"doc_id": r["doc_id"],
                 "spans": [s.asDict() for s in r["spans"]]} for r in rows]

    def checkpoint_probe(self) -> None:
        """One checkpointed, resumable write of the corpus, then a resume
        of the completed run: the staging, per-bucket job, parquet sink,
        lineage and anti-join layers, with giant docs on the split path."""
        from fast_pdf_parser_spark.plans.checkpoint import (
            lineage, run_with_checkpoint)

        spark, name, m = self.spark, self.name, self.m
        out_dir = os.path.join(self.env.WORK_DIR, "ckpt")
        shutil.rmtree(out_dir, ignore_errors=True)

        def run():
            return run_with_checkpoint(
                spark, self.spans, out_dir, run_id=f"s{self.args.seed}",
                parse_options=self.parse_options(routed=True), **CHECKPOINT)

        with layers.job(spark, f"{name}/checkpoint.run"):
            t0 = time.perf_counter()
            result = run()
            m["checkpoint.run_s"] = time.perf_counter() - t0
        with layers.job(spark, f"{name}/checkpoint.resume"):
            t0 = time.perf_counter()
            run()
            m["checkpoint.resume_s"] = time.perf_counter() - t0
        with layers.job(spark, f"{name}/checkpoint.check"):
            walls_ms = [r["wall_ms"] for r in
                        lineage(spark, out_dir).collect()]
            self.checks["checkpoint_counters"] = (
                headline_counters(result) == self.counters[0])
            self.checks["checkpoint_span_equality"] = (
                self._spans_of(result, self.gate_ids) == self.expected_spans)
        m["checkpoint.bucket_wall_sum_s"] = sum(walls_ms) / 1e3
        m["checkpoint.bucket_wall_max_s"] = max(walls_ms) / 1e3
        m["checkpoint.bytes_written_ratio"] = (
            _du(os.path.join(out_dir, "spans")) / _du(self.corpus["path"]))
        self.hyg.append(self.env.hygiene_delta(
            self.base_hygiene, self.env.hygiene(spark)))
        shutil.rmtree(out_dir, ignore_errors=True)

    def layer_probes(self) -> None:
        from fast_pdf_parser_spark.operators.pipeline import (
            extract_documents, extract_documents_split)

        spark, name, m = self.spark, self.name, self.m
        results = os.path.join(self.env.WORK_DIR, "results")
        os.makedirs(results, exist_ok=True)
        m.update(layers.replay_fold(self.replay_docs(), os.path.join(
            results, f"trace_{name}_s{self.args.seed}.json")))
        spans = self.spans
        popts = self.parse_options()
        routed = self.parse_options(routed=True)
        m["scan.noop_s"] = layers.time_noop(
            spark, lambda: spans.select("doc_id", "spans"),
            f"{name}/scan.noop")
        # the Arrow-input probe scans too: its layer time is the difference
        m["pipeline.arrow_in_s"] = layers.time_noop(
            spark, lambda: layers.arrow_in_noop(spans),
            f"{name}/pipeline.arrow_in") - m["scan.noop_s"]
        extract_desc = f"{name}/pipeline.extract_noop"
        m["pipeline.extract_noop_s"] = layers.time_noop(
            spark, lambda: extract_documents(spans, parse_options=popts),
            extract_desc)
        fold_cpu = m["fold.total_s"] / self.replay_share
        m["pipeline.residual_s"] = (
            m["pipeline.extract_noop_s"] - m["scan.noop_s"]
            - m["pipeline.arrow_in_s"] - fold_cpu / CORES)
        agg_in = os.path.join(self.env.WORK_DIR, "agg_input")
        with layers.job(spark, f"{name}/aggregate.input"):
            extract_documents(spans, parse_options=popts) \
                .write.mode("overwrite").parquet(agg_in)
        agg_walls = []
        for _ in range(3):
            with layers.job(spark, f"{name}/aggregate"):
                t0 = time.perf_counter()
                headline_counters(spark.read.parquet(agg_in))
                agg_walls.append(time.perf_counter() - t0)
        m["aggregate.s"] = median(agg_walls)
        shutil.rmtree(agg_in, ignore_errors=True)
        m["pipeline.split_noop_s"] = layers.time_noop(
            spark, lambda: extract_documents_split(spans, parse_options=popts),
            f"{name}/pipeline.split_noop")
        m["pipeline.routed_noop_s"] = layers.time_noop(
            spark, lambda: extract_documents(spans, parse_options=routed),
            f"{name}/pipeline.routed_noop")
        self.checkpoint_probe()
        m["checkpoint.overhead_s"] = (m["checkpoint.run_s"]
                                      - m["pipeline.routed_noop_s"])
        m["session.persistent_rdds"] = max(h["persistent_rdds"]
                                           for h in self.hyg)
        m["session.conf_changed"] = max(h["conf_changed"] for h in self.hyg)
        m["tmp.residue_entries"] = max(len(h["tmp_residue"])
                                       for h in self.hyg)
        m["synth.generate_s"] = self.corpus["generate_s"]

        # Spark task metrics come from the finished event log, so the
        # traced session ends here; the 2-core scaling leg reuses its JVM
        app_id = spark.sparkContext.applicationId
        self.retired.append(spark.sparkContext)
        spark.stop()
        m.update(layers.eventlog_tasks(
            self.env.EVENT_LOG_DIR, app_id, extract_desc,
            m["pipeline.extract_noop_s"], CORES))
        self.spark = spark = self.env.start(2)
        from fast_pdf_parser_spark.util import ship_package

        ship_package(spark)
        spans2 = spark.read.parquet(self.corpus["path"])
        with layers.job(spark, f"{name}/scaling.warm"):
            extract_documents(spans2.sample(
                fraction=WARM_DOCS / self.corpus["docs"], seed=0),
                parse_options=popts).count()
        wall_2 = layers.time_noop(
            spark, lambda: extract_documents(spans2, parse_options=popts),
            f"{name}/scaling.local2")
        m["scaling.eff_2_4"] = wall_2 / (2 * m["pipeline.extract_noop_s"])

    # -- run ------------------------------------------------------------------

    def run(self) -> int:
        args, env = self.args, self.env
        env.prepare_env()
        import pyspark.sql  # noqa: F401  (import cost stays out of set-up)

        self.m["cpu_control.pre_mops"] = env.cpu_control_mops()
        self.corpus = self.corpus_mod.ensure_corpus(
            self.name, args.seed, self.steps, self.wl["pdf"], self.wl["html"])
        n_setups = 1 if (args.trace or args.smoke) else SETUP_SAMPLES
        try:
            setups = [self._setup(event_log=bool(args.trace or args.smoke)
                                  and i == n_setups - 1)
                      for i in range(n_setups)]
            self.m["setup_s"] = median(setups)
            self.detail["setups"] = setups
            self.measure()
            self.gate()
            if args.trace or args.smoke:
                self.layer_probes()
        finally:
            if self.spark is not None:
                env.stop(self.spark)
                self.spark = None
            shutil.rmtree(os.path.join(env.WORK_DIR, "ckpt"),
                          ignore_errors=True)
            shutil.rmtree(os.path.join(env.WORK_DIR, "agg_input"),
                          ignore_errors=True)
            shutil.rmtree(env.EVENT_LOG_DIR, ignore_errors=True)
        self.m["cpu_control.post_mops"] = env.cpu_control_mops()
        ok = all(self.checks.values())
        self.m["output_ok"] = int(ok)
        return self.report(ok)

    def report(self, ok: bool) -> int:
        args = self.args
        if args.smoke:
            shown = {**END_TO_END, **REPORT_ONLY, **PER_LAYER}
            emitted = {**END_TO_END, **PER_LAYER}
        elif args.trace:
            shown = emitted = PER_LAYER
        else:
            shown = {**END_TO_END, **REPORT_ONLY}
            emitted = END_TO_END
        print(f"# {self.name} seed={args.seed} reps={len(self.walls)} "
              f"setups={len(self.detail['setups'])} checks={self.checks}")
        for key, unit in shown.items():
            if key in self.m:
                print(f"{key:34s} {self.m[key]:>16.6g} {unit}")
        results = os.path.join(self.env.WORK_DIR, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(
                results, f"{self.name}_s{args.seed}_t{args.trace}.json"),
                "w") as f:
            json.dump(dict(self.detail, metrics=self.m, checks=self.checks),
                      f, indent=1)
        print(json.dumps({
            "correct": ok,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": self.m[k], "unit": u}
                        for k, u in emitted.items()},
        }))
        return 0 if ok else 1


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fast_pdf_parser_spark")):
        print("perfbench: no fast_pdf_parser_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    return Bench(args).run()


if __name__ == "__main__":
    sys.exit(main())
