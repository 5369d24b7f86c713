"""Seeded benchmark corpora built from ``sources.synth``, cached on disk.

A workload corpus is ``docs_per_quota * 85`` documents whose page-count
mix is fixed: the seed picks *which* synth documents fill each page-count
bucket of ``synth``'s skewed distribution (1, 3, 6, 9, 20 and 108 pages,
weights 40/25/10/5/4/1), so the total page count is the same for every
seed while the text, the pdf/html/media mix and the doc ids change with
it. Without the quotas a small corpus's page total swings by about 8%
from seed to seed (the 108-page tail is a Poisson handful), which would
bury the run-to-run spread the benchmark exists to resolve.

Each document is ``synth.make_doc(i, seed, ...)`` for a selected index
``i``, in ``synth.SPANS_DDL``'s shape. Documents are dealt to the parquet
files costliest first (LPT on the generated spans' parse cost), so every
file holds about the same work and the extraction plan is scan ->
mapInArrow with no shuffle.

The cache lives in ``perfbench/.cache`` and is keyed by workload, seed,
document count and a hash of ``sources/synth.py``,
``sources/pdf_builder.py`` and this file: a generator or layout change can
never be served a stale corpus, and the directory is never shared with
``bench.py``'s corpus under the system temp dir.
"""

from __future__ import annotations

import hashlib
import heapq
import json
import os
import random
import shutil
import time

from fast_pdf_parser_spark.sources import synth

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")
# synth's page-count buckets as (weight, pages); mirrored, not imported,
# because the private table is not part of synth's API. A drift shows up
# as a page-count mismatch in the correctness gate.
PAGE_QUOTAS = ((40, 1), (25, 3), (10, 6), (5, 9), (4, 20), (1, 108))
QUOTA_UNIT = sum(w for w, _ in PAGE_QUOTAS)  # 85 docs per quota step
# one file per core of local[4]: each file is one input split (a file stays
# below the split size while it is within 1 MB of the average), so a rep
# is one wave of four tasks and never a second wave that depends on how
# Spark happened to pack unequal files
NUM_FILES = 4
# relative parse cost of one page by span kind, for file balancing: a pdf
# page pays the lexer, an html page the boilerplate strip (measured with
# the traced fold replay, rounded)
_PAGE_COST = {"text": 1, "html": 5, "pdf": 10}


def generator_hash() -> str:
    """Hash of the generator (synth, pdf_builder) and of this writer."""
    root = os.path.dirname(synth.__file__)
    h = hashlib.sha256()
    for path in (os.path.join(root, "synth.py"),
                 os.path.join(root, "pdf_builder.py"), __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _id_and_pages(doc_idx: int, seed: int) -> tuple[str, int]:
    """Doc id and page count of synth document ``doc_idx``. The page count
    is make_doc's first draw, so the cheap text-only form gives the same
    count as the pdf or html form."""
    doc = synth.make_doc(doc_idx, seed)
    return doc["doc_id"], sum(1 for s in doc["spans"] if s["kind"] != "media")


def select_docs(seed: int, docs_per_quota: int) -> list[tuple[int, int, str]]:
    """(doc index, pages, doc id) for the corpus: the first synth documents
    of each page-count bucket until it holds ``weight * docs_per_quota``."""
    want = {pages: w * docs_per_quota for w, pages in PAGE_QUOTAS}
    chosen: list[tuple[int, int, str]] = []
    i = 0
    while any(want.values()):
        doc_id, pages = _id_and_pages(i, seed)
        if want.get(pages, 0) > 0:
            want[pages] -= 1
            chosen.append((i, pages, doc_id))
        i += 1
    return chosen


def expected_pages(docs_per_quota: int) -> int:
    return docs_per_quota * sum(w * p for w, p in PAGE_QUOTAS)


def _file_groups(docs: list[dict], parts: int) -> list[list[dict]]:
    """Greedy LPT on parse cost: costliest document first onto the
    least-loaded file."""
    costs = [sum(_PAGE_COST.get(s["kind"], 0) for s in d["spans"])
             for d in docs]
    heap = [(0, p) for p in range(parts)]
    groups: list[list[dict]] = [[] for _ in range(parts)]
    for j in sorted(range(len(docs)), key=lambda j: (-costs[j], j)):
        load, p = heapq.heappop(heap)
        groups[p].append(docs[j])
        heapq.heappush(heap, (load + costs[j], p))
    return groups


def _write(path: str, seed: int, doc_idxs, include_pdf: bool,
           include_html: bool) -> None:
    """Generate the documents ``doc_idxs`` and write them as NUM_FILES
    parquet files, in this process with pyarrow (Spark's pandas round trip
    of the nested span arrays costs several times the generation itself)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("doc_id", pa.string()),
        ("spans", pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32())]))),
    ])
    docs = [synth.make_doc(i, seed, include_pdf, include_html=include_html)
            for i in doc_idxs]
    os.makedirs(path)
    for n, group in enumerate(_file_groups(docs, NUM_FILES)):
        pq.write_table(pa.Table.from_pylist(group, schema=schema),
                       os.path.join(path, f"part-{n:05d}.parquet"))


def ensure_corpus(name: str, seed: int, docs_per_quota: int,
                  include_pdf: bool, include_html: bool) -> dict:
    """Path and facts of the cached corpus, generating it when absent.

    Returns {path, docs, pages, generate_s, doc_pages}; ``generate_s`` is
    the time the generation took when it ran (read back from the cache
    otherwise) and ``doc_pages`` maps every doc id to its page count.
    """
    n_docs = docs_per_quota * QUOTA_UNIT
    key = f"{name}_s{seed}_n{n_docs}_{generator_hash()}"
    path = os.path.join(CACHE_DIR, key)
    meta_path = os.path.join(path, "_BENCH_META.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return dict(json.load(f), path=path)
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    chosen = select_docs(seed, docs_per_quota)
    _write(path, seed, [i for i, _, _ in chosen], include_pdf, include_html)
    meta = {"docs": n_docs, "pages": expected_pages(docs_per_quota),
            "generate_s": time.perf_counter() - t0,
            "doc_pages": {doc_id: pages for _, pages, doc_id in chosen}}
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return dict(meta, path=path)


def ensure_natural_corpus(n_docs: int, seed: int, include_pdf: bool) -> str:
    """The documents ``synth.write_corpus`` writes for ``bench.py``
    (0..n-1 of ``seed``), cached beside the quota corpora. Used for the
    pinned seed-42 headline counters only, which depend on the documents,
    not on their file layout."""
    key = f"natural_s{seed}_n{n_docs}_pdf{int(include_pdf)}_{generator_hash()}"
    path = os.path.join(CACHE_DIR, key)
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        _write(path, seed, range(n_docs), include_pdf, include_html=False)
        open(done, "w").close()
    return path


def sample_doc_ids(corpus: dict, seed: int, k: int) -> list[str]:
    """A seeded sample of ``k`` doc ids for the correctness gate, always
    holding one of the largest documents (the multi-page chunk runs)."""
    doc_pages = corpus["doc_pages"]
    ids = sorted(doc_pages)
    rng = random.Random(f"gate:{seed}")
    top = max(doc_pages.values())
    picked = {rng.choice([d for d in ids if doc_pages[d] == top])}
    picked.update(rng.sample(ids, min(k, len(ids)) - 1))
    return sorted(picked)
