#!/usr/bin/env python3
"""Giant-document Arrow memory probe (VERDICT r3 #7).

A document is ONE row into the zero-shuffle mapInArrow fold (whole-doc
locality is the design), so the skew tail's memory question is: what does
one very large document cost the Python worker and the JVM? This probe
synthesizes a single ~N-MB text document (default 256 MB of span text,
SPARK_GRAFT_GIANT_MB to change), runs the real extraction at local[2],
samples peak RSS of the JVM and every pyspark worker from /proc during the
run, and appends one JSON line to BENCH/GIANT_DOC_r5.json.

What bounds what:
- input side: one row cannot be split below one document — peak input
  memory per worker is the document's Arrow buffer (~doc bytes);
- UDF side: operators/pipeline._FLUSH_CHARS flushes accumulated OUTPUT
  rows as their own Arrow batches, so the fold adds at most
  ~_FLUSH_CHARS + one document's pages/items on top of the input buffer,
  regardless of how many docs share the batch.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendant_pids(root: int) -> list[int]:
    """All live descendant pids of root (via /proc PPid chains)."""
    ppid = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                for line in f:
                    if line.startswith("PPid:"):
                        ppid[int(d)] = int(line.split()[1])
                        break
        except OSError:
            continue
    out, frontier = [], {root}
    while frontier:
        nxt = {p for p, pp in ppid.items() if pp in frontier}
        out.extend(nxt)
        frontier = nxt
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


class PeakSampler(threading.Thread):
    """Samples RSS of this process tree; tracks the peak total, the peak
    single-process, and — the attribution the r4 verdict asked for — the
    peak JVM vs peak PYTHON WORKER separately: the streaming-fold fix
    targets the worker, while the JVM's high-water mark is GC-elastic
    (it grows to whatever -Xmx allows before collecting)."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_total_kb = 0
        self.peak_single_kb = 0
        self.peak_jvm_kb = 0
        self.peak_pyworker_kb = 0
        self._halt = threading.Event()
        self._roles: dict[int, str] = {}

    def _role(self, pid: int, me: int) -> str:
        if pid not in self._roles:
            cmd = _cmdline(pid)
            if "java" in cmd.split(" ")[0]:
                self._roles[pid] = "jvm"
            elif pid != me and ("pyspark.daemon" in cmd
                                or "pyspark.worker" in cmd):
                self._roles[pid] = "pyworker"
            else:
                self._roles[pid] = "other"
        return self._roles[pid]

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            pids = [me] + _descendant_pids(me)
            sizes = [(p, _rss_kb(p)) for p in pids]
            self.peak_total_kb = max(self.peak_total_kb,
                                     sum(kb for _, kb in sizes))
            for pid, kb in sizes:
                self.peak_single_kb = max(self.peak_single_kb, kb)
                role = self._role(pid, me)
                if role == "jvm":
                    self.peak_jvm_kb = max(self.peak_jvm_kb, kb)
                elif role == "pyworker":
                    self.peak_pyworker_kb = max(self.peak_pyworker_kb, kb)
            time.sleep(self.interval)

    def stop(self) -> None:
        self._halt.set()


def _session(mem: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("giant_doc_probe")
        .config("spark.sql.shuffle.partitions", "2")
        # giant-row scans: the vectorized reader reserves one CONTIGUOUS
        # column-vector for the whole row batch and grows it by doubling —
        # a 512 MB single-row doc transiently needs ~3x its bytes in one
        # allocation. The row-oriented reader streams the record instead;
        # SPARK_GRAFT_GIANT_VECTORIZED=1 restores the default for A/B.
        .config("spark.sql.parquet.enableVectorizedReader",
                "true" if os.environ.get("SPARK_GRAFT_GIANT_VECTORIZED")
                == "1" else "false")
        .config("spark.driver.memory", mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    giant_mb = int(os.environ.get("SPARK_GRAFT_GIANT_MB", "256"))
    # SPARK_GRAFT_GIANT_SPLIT=1: route through the one-row-per-span split
    # path over the PRE-SPLIT storage layout (split_spans_table authored
    # once at ingest) — the skew-tail answer to the JVM's whole-row cost;
    # byte-identity to the default path is pinned by
    # tests/test_pipeline_properties.py
    use_split = os.environ.get("SPARK_GRAFT_GIANT_SPLIT", "0") == "1"
    # SPARK_GRAFT_GIANT_ROUTED=1: the r7 ONE-entry-point form — a mixed
    # corpus (SPARK_GRAFT_GIANT_NDOCS normal contiguous docs + the giant
    # doc living in the pre-split store) through a single
    # extract_documents call with giant_doc_bytes routing active and the
    # pre-split store passed as split_df. Proves the composed API holds
    # the split path's heap floor while the bulk keeps the zero-shuffle
    # plan.
    use_routed = os.environ.get("SPARK_GRAFT_GIANT_ROUTED", "0") == "1"
    n_normal = int(os.environ.get("SPARK_GRAFT_GIANT_NDOCS", "4000"))

    from pyspark.sql import functions as F

    from fast_pdf_parser_spark.config import ParseOptions
    from fast_pdf_parser_spark.operators.pipeline import (
        _FLUSH_CHARS,
        extract_documents,
        extract_documents_split,
        split_spans_table,
    )
    from fast_pdf_parser_spark.util import ship_package

    # one giant doc: page-shaped text spans (~64 KB each) until ~giant_mb
    span_kb = 64
    n_spans = giant_mb * 1024 // span_kb

    # ---- corpus authoring, in a SEPARATE big-heap session (not sampled):
    # the pre-split layout's one-time whole-row materialization is an
    # ingest cost paid on a node sized for it, never per pipeline run
    path = f"/tmp/spark_graft_giant_{giant_mb}mb"
    split_path = path + "_presplit"
    normal_path = f"/tmp/spark_graft_giant_normal_{n_normal}d"
    need_base = not os.path.exists(os.path.join(path, "_SUCCESS"))
    need_split = (use_split or use_routed) and not os.path.exists(
        os.path.join(split_path, "_SUCCESS"))
    need_normal = use_routed and not os.path.exists(
        os.path.join(normal_path, "_SUCCESS"))
    if need_normal:
        from fast_pdf_parser_spark.sources.synth import write_corpus

        spark = _session("4g")
        write_corpus(spark, normal_path, n_normal, num_partitions=8)
        spark.stop()
    if need_base or need_split:
        spark = _session("48g")
        if need_base:
            # spans built JVM-side (sequence + transform) so the driver
            # python process doesn't hold the corpus. A small normal doc
            # rides along to prove the fold still interleaves.
            page_expr = (
                "concat('# h', CAST(i AS STRING), '\\n', "
                f"repeat('w', {span_kb * 1024 - 24}))"
            )
            giant = spark.range(1).select(
                F.lit("giant_doc").alias("doc_id"),
                F.expr(
                    f"transform(sequence(0, {n_spans - 1}), i -> "
                    f"named_struct('kind', 'text', 'text', {page_expr}, "
                    "'media_ref', CAST(NULL AS STRING), "
                    "'offset', CAST(i AS INT)))"
                ).alias("spans"),
            )
            small = spark.range(1).select(
                F.lit("small_doc").alias("doc_id"),
                F.expr(
                    "transform(sequence(0, 3), i -> named_struct("
                    "'kind', 'text', 'text', concat('# t', "
                    "CAST(i AS STRING), '\\nsome words here'), "
                    "'media_ref', CAST(NULL AS STRING), "
                    "'offset', CAST(i AS INT)))"
                ).alias("spans"),
            )
            giant.union(small).write.mode("overwrite").parquet(path)
        if need_split:
            split_spans_table(spark.read.parquet(path)) \
                .write.mode("overwrite").parquet(split_path)
        spark.stop()

    # ---- measured session at the driver memory under test
    spark = _session(os.environ.get("SPARK_GRAFT_GIANT_MEM", "48g"))
    ship_package(spark)
    if use_routed:
        bulk = spark.read.parquet(normal_path)
        pre = spark.read.parquet(split_path)

        def extract_fn(df, parse_options):
            # ONE call: size-estimate routing on the contiguous bulk
            # (all under threshold → zero-shuffle path) + the pre-split
            # giant store through the bounded-row split path
            return extract_documents(
                df,
                parse_options=parse_options.updated(
                    giant_doc_bytes=64 << 20),
                split_df=pre)

        spans = bulk
    elif use_split:
        spans = spark.read.parquet(split_path)
        extract_fn = extract_documents_split
    else:
        spans = spark.read.parquet(path)
        extract_fn = extract_documents

    sampler = PeakSampler()
    sampler.start()
    t0 = time.time()
    out = extract_fn(spans, parse_options=ParseOptions(num_partitions=0))
    agg = out.agg(
        F.countDistinct("doc_id").alias("docs"),
        F.sum(F.when(F.col("kind") == "chunk", 1).otherwise(0)).alias("chunks"),
        F.max(F.when(F.col("offset") == 0, F.col("doc_total_pages")))
        .alias("max_pages"),
        F.sum(F.when(F.col("offset") == 0, F.col("doc_bytes_decoded"))
              .otherwise(0)).alias("bytes"),
    ).collect()[0]
    wall = time.time() - t0
    sampler.stop()
    sampler.join(2)

    result = {
        "metric": "giant_doc_peak_rss",
        "giant_mb": giant_mb,
        "spans": n_spans,
        "wall_sec": round(wall, 2),
        "docs": int(agg["docs"]),
        "chunks": int(agg["chunks"]),
        "max_pages": int(agg["max_pages"]),
        "decoded_mb": round(agg["bytes"] / 1e6, 1),
        "peak_single_proc_gb": round(sampler.peak_single_kb / 1e6, 2),
        "peak_tree_gb": round(sampler.peak_total_kb / 1e6, 2),
        "peak_jvm_gb": round(sampler.peak_jvm_kb / 1e6, 2),
        "peak_pyworker_gb": round(sampler.peak_pyworker_kb / 1e6, 2),
        "flush_chars_mb": _FLUSH_CHARS >> 20,
        "cpus": 2,
        "driver_mem": os.environ.get("SPARK_GRAFT_GIANT_MEM", "48g"),
        "normal_docs": n_normal if use_routed else 0,
        "path": ("routed" if use_routed else
                 "split" if use_split else "contiguous"),
    }
    spark.stop()
    line = json.dumps(result)
    print(line)
    out_name = os.environ.get("SPARK_GRAFT_GIANT_OUT", "GIANT_DOC_r7.json")
    with open(os.path.join(REPO, "BENCH", out_name), "a") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
