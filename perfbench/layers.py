"""Per-layer measurement, all of it from outside the program.

Three sources, each timed by calling a layer's public functions:

- ``replay_fold``: the per-document fold (``pipeline.process_document``)
  replayed in this process over a seeded doc sample, with the pdf lexer,
  the html extractor, the ``StreamingChunker`` entry points and the
  tokenizer wrapped as parent/child spans. A layer's self time is its
  spans' duration minus the time of their child spans.
- ``time_noop``: a DataFrame written to Spark's ``noop`` sink, so a plan
  prefix (scan, Arrow input, the full fold) is timed without a result.
- ``eventlog_tasks``: task metrics parsed from the Spark event log of the
  jobs whose description names a layer.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median


class Tracer:
    """In-memory span recorder: ``wrap(name, fn)`` returns ``fn`` recording
    one span per call (name, start, duration, parent). A call of a layer
    from inside the same layer (``count_tokens`` -> its line cache) is
    folded into the outer span."""

    def __init__(self) -> None:
        self.self_ns: dict[str, int] = defaultdict(int)
        self.total_ns: dict[str, int] = defaultdict(int)
        self.calls: dict[str, int] = defaultdict(int)
        self.spans: list[tuple] = []  # (name, start_ns, dur_ns, parent)
        self._stack: list[list] = []  # [name, span index, child_ns]

    def wrap(self, name: str, fn):
        stack, spans = self._stack, self.spans
        clock = time.perf_counter_ns

        def traced(*args, **kwargs):
            if stack and stack[-1][0] == name:
                return fn(*args, **kwargs)
            parent = stack[-1][1] if stack else -1
            frame = [name, len(spans), 0]
            spans.append(None)
            stack.append(frame)
            t0 = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = clock() - t0
                stack.pop()
                spans[frame[1]] = (name, t0, dur, parent)
                self.self_ns[name] += dur - frame[2]
                self.total_ns[name] += dur
                self.calls[name] += 1
                if stack:
                    stack[-1][2] += dur

        return traced

    def dump(self, path: str) -> None:
        names = sorted(self.total_ns)
        idx = {n: i for i, n in enumerate(names)}
        t_base = min((s[1] for s in self.spans), default=0)
        with open(path, "w") as f:
            json.dump({"names": names,
                       "fields": ["name", "start_ns", "dur_ns", "parent"],
                       "spans": [[idx[n], t - t_base, d, p]
                                 for n, t, d, p in self.spans]}, f)


FOLD_LAYERS = ("lex", "html", "chunk", "tokenize")


def _install(tracer: Tracer, tok):
    """Wrap the fold's layer entry points; returns an undo callable."""
    from fast_pdf_parser_spark.operators.chunker import StreamingChunker
    from fast_pdf_parser_spark.sources import html_extractor, pdf_lexer

    patches = [
        (pdf_lexer, "extract_pdf_pages_lines", "lex"),
        (html_extractor, "html_main_content", "html"),
        (StreamingChunker, "push_page", "chunk"),
        (StreamingChunker, "push_lines", "chunk"),
        (StreamingChunker, "finish", "chunk"),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    for obj, attr, layer in patches:
        setattr(obj, attr, tracer.wrap(layer, getattr(obj, attr)))
    # the tokenizer is a per-process singleton: wrap its bound methods as
    # instance attributes and drop them again afterwards
    line_cache = tok._count_line_cached
    for attr in ("count_tokens", "count_tokens_many", "encode"):
        setattr(tok, attr, tracer.wrap("tokenize", getattr(tok, attr)))
    tok._count_line_cached = tracer.wrap("tokenize", line_cache)

    def undo() -> None:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)
        for attr in ("count_tokens", "count_tokens_many", "encode"):
            delattr(tok, attr)
        tok._count_line_cached = line_cache

    return undo


def replay_fold(docs: list[dict], trace_path: str | None = None,
                rounds: int = 3) -> dict:
    """Replay ``docs`` ({doc_id, spans}) through ``process_document``:
    one warm-up pass, then ``rounds`` pairs of an untraced and a traced
    pass. Returns the layer metrics of the last traced pass and the ratio
    of the traced to the untraced median (the tracing overhead)."""
    from fast_pdf_parser_spark.config import ChunkOptions
    from fast_pdf_parser_spark.functions.tokenizer import (
        find_real_vocab, get_tokenizer)
    from fast_pdf_parser_spark.operators.pipeline import process_document

    tok = get_tokenizer(find_real_vocab())
    opts = ChunkOptions()

    def run(fold) -> tuple[float, int]:
        rows = 0
        t0 = time.perf_counter()
        for d in docs:
            rows += len(fold(d["doc_id"], d["spans"], tok, opts))
        return time.perf_counter() - t0, rows

    run(process_document)
    plain, traced = [], []
    for _ in range(rounds):
        plain_s, rows = run(process_document)
        tracer = Tracer()
        undo = _install(tracer, tok)
        try:
            traced_s, traced_rows = run(tracer.wrap("fold", process_document))
        finally:
            undo()
        if traced_rows != rows:
            raise RuntimeError("traced replay changed the fold's output")
        plain.append(plain_s)
        traced.append(traced_s)
    if trace_path:
        tracer.dump(trace_path)
    s = {k: v / 1e9 for k, v in tracer.self_ns.items()}
    fold_total = tracer.total_ns["fold"] / 1e9
    out = {}
    for layer in FOLD_LAYERS:
        out[f"{layer}.self_s"] = s.get(layer, 0.0)
        out[f"{layer}.calls"] = tracer.calls.get(layer, 0)
    out.update({
        "fold.self_s": s["fold"],
        "fold.total_s": fold_total,
        "fold.out_rows": rows,
        "fold.child_share": sum(s.get(x, 0.0) for x in FOLD_LAYERS)
        / fold_total,
        "tracing.overhead_ratio": median(traced) / median(plain),
    })
    return out


@contextmanager
def job(spark, desc: str):
    """Name the Spark jobs started inside as ``desc`` (workload/layer), so
    the event log reads without a decoder."""
    sc = spark.sparkContext
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(None)


def time_noop(spark, df_fn, desc: str, reps: int = 3) -> float:
    """Median wall of writing ``df_fn()`` to the noop sink."""
    walls = []
    for _ in range(reps):
        with job(spark, desc):
            t0 = time.perf_counter()
            df_fn().write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
    return median(walls)


def arrow_in_noop(df):
    """The fold's input boundary alone: (doc_id, spans) cross JVM -> Arrow
    -> Python lists exactly as the fold receives them, then are dropped."""

    def consume(batches):
        for batch in batches:
            batch.column(0).to_pylist()
            batch.column(1).to_pylist()
        return iter(())

    return df.select("doc_id", "spans").mapInArrow(consume, "doc_id string")


def eventlog_tasks(log_dir: str, app_id: str, desc: str, wall_s: float,
                   cores: int) -> dict:
    """Task metrics of the jobs described ``desc`` (median per job)."""
    path = os.path.join(log_dir, app_id)  # finished, single-file log
    job_stages: dict[int, list[int]] = {}
    tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.job.description") == desc:
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
            elif kind == "SparkListenerTaskEnd":
                tasks_by_stage[ev["Stage ID"]].append(ev)
    if not job_stages:
        raise RuntimeError(f"no job described {desc!r} in the event log")
    per_job = []
    for stages in job_stages.values():
        tasks = [t for s in stages for t in tasks_by_stage.get(s, [])]
        durs = [(t["Task Info"]["Finish Time"]
                 - t["Task Info"]["Launch Time"]) / 1e3 for t in tasks]
        metrics = [t.get("Task Metrics") or {} for t in tasks]
        per_job.append({
            "spark.tasks": len(tasks),
            "spark.task_sum_s": sum(durs),
            "spark.task_max_s": max(durs, default=0.0),
            "spark.gc_s": sum(m.get("JVM GC Time", 0) for m in metrics) / 1e3,
            "spark.shuffle_bytes": sum(
                (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0) for m in metrics),
        })
    out = {k: median(j[k] for j in per_job) for k in per_job[0]}
    out["spark.core_util"] = out["spark.task_sum_s"] / (wall_s * cores)
    return out
