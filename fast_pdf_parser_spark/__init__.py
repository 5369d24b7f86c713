"""fast_pdf_parser_spark — a PySpark-native main-content extraction pipeline.

A from-scratch re-expression of mboros1/fast-pdf-parser (reference at
/root/reference, cited by file:line throughout) on Apache Spark:

- per-document PDF byte-stream lexing (xref/trailer walk, FlateDecode,
  content-stream Tj/TJ tokenization, ToUnicode CMap, baseline y-clustering)
  replacing the reference's MuPDF stext path (src/text_extractor.cpp),
- line annotation + 7-pass hierarchical chunking
  (src/hierarchical_chunker.cpp:82-462) as pure-pandas functions executed
  inside vectorized Arrow UDFs,
- interleaved text+media span documents processed with whole-doc locality
  via ``mapInArrow`` (one input row per document → zero-shuffle pipeline),
- scale features the reference lacks: salted size-aware repartition,
  AQE, per-partition lineage/metrics checkpoint table with
  resume-from-partition.

Everything algorithmic is plain Python/pandas (unit-testable without a
SparkSession); everything scale-related is thin DataFrame glue.
"""

from fast_pdf_parser_spark.config import ChunkOptions, ParseOptions

__all__ = ["ChunkOptions", "ParseOptions"]
__version__ = "0.1.0"
