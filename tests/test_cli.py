"""CLI entry test (tools/run_pipeline.py — the spark-submit surface)."""

import os
import subprocess
import sys

import pandas as pd

from fast_pdf_parser_spark.sources.synth import SPANS_DDL, iter_docs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_end_to_end(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    docs = list(iter_docs(10, seed=3))
    spark.createDataFrame(pd.DataFrame(docs), schema=SPANS_DDL) \
        .write.mode("overwrite").parquet(in_dir)

    # fresh process = the real spark-submit shape (python driver)
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "run_pipeline.py"),
         "--input", in_dir, "--output", out_dir,
         "--num-buckets", "2", "--run-id", "o'brien-1",
         "--quiet", "--format", "json"],
        capture_output=True, text=True, timeout=300,
        env=dict(os.environ, PYSPARK_PYTHON=sys.executable),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    line = [l for l in res.stdout.splitlines() if l.startswith("SUCCESS|")][-1]
    _, _inp, docs_n, chunks_n, _ms = line.split("|")
    assert int(docs_n) == 10 and int(chunks_n) > 0

    out = spark.read.parquet(os.path.join(out_dir, "spans"))
    assert out.select("doc_id").distinct().count() == 10
    dj = spark.read.json(os.path.join(out_dir, "docling_json"))
    assert dj.count() == int(chunks_n)


def test_cli_rejects_bad_options():
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "run_pipeline.py"),
         "--input", "/nonexistent", "--output", "/tmp/x",
         "--min-tokens", "600", "--max-tokens", "512"],
        capture_output=True, text=True, timeout=60,
    )
    assert res.returncode != 0
    assert "min_tokens" in (res.stderr + res.stdout)
