"""arabicner_spark — a PySpark-native knowledge-graph construction pipeline.

Built from scratch (NOT a port) with the query/data-processing capabilities of
the reference SinaLab/ArabicNER (nested multi-label BIO NER over Wojood), re-
expressed Spark-first:

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      -> batched nested-NER mention detection (mapInPandas, Arrow batches,
         broadcast scorer weights; semantics of reference operators #8-#17,
         see SURVEY.md section 2)
      -> per-turn triple extraction (Catalyst-planned self-join + type-pair
         pattern predicates)
      -> entity linking (driver-resolved alias table, then MinHash-LSH
         over the surfaces it misses)
      -> canonicalization (MinHash-LSH blocking + large-star/small-star
         connected components)
      -> partitioned nodes/edges tables + per-partition lineage metrics.

Subpackages:
    functions/  column-level helpers (Arabic normalization, portable hashing,
                the shared numpy tag core used by both oracle and UDFs)
    operators/  pipeline stages (ner, triples, linking, components, dedup,
                similarity, textstats, multimodal)
    sources/    IO facade (Iceberg-or-parquet), synthetic corpus generator,
                CoNLL fixture reader
    plans/      end-to-end pipeline driver, lineage/resume, materialization
    streaming/  structured-streaming ingest variant (optional surface)

Modules:
    session     the one SparkSession builder (entry points, tools, tests)
                and the package zip it ships to the Python workers
"""

__version__ = "0.1.0"
