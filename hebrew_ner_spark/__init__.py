"""hebrew_ner_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the query/data-processing capabilities of the
reference pipeline (Yu-val-weiss/hebrew-ner, read-only at /root/reference) as a
distributed, Spark-first engine:

  pages (url, warc_ts, html, text, lang)
    -> extract_text (vectorized pandas UDF, byte-identical per url)
    -> sentence split + tokenize (ports of the reference tokenizer semantics)
    -> mention detection (batched Arrow UDF, executor-local model singleton)
    -> morphological lattice build + NER-evidence pruning (batched mapInPandas DFS)
    -> morph->token label merge (join + concat_ws aggregation)
    -> dependency-pattern relation extraction -> (subj, pred, obj) triples
    -> entity linking (tiered broadcast join + MinHash-LSH)
    -> union-find canonicalization (join-to-fixpoint)
    -> graph materialization (salted two-phase aggregation)

plus the training-data-pipeline operators a 100 TB corpus needs: exact/fuzzy
deduplication, similarity search, text quality analysis, multimodal plumbing.

All dataflow is declared with the DataFrame API so Catalyst handles pushdown,
pruning, join selection and AQE; Python only runs inside Arrow-batched UDFs.
"""

from hebrew_ner_spark import zipcache

zipcache.install()

__version__ = "0.1.0"
