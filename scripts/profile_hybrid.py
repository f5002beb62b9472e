"""Stage-by-stage profiler for the hybrid chain at the 1M-doc corpus
(VERDICT r4 "do this" #1 diagnosis harness).

Times cumulative prefixes of the hybrid pipeline so the marginal cost of
each stage is (prefix_k - prefix_{k-1}). Run exclusively.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine from PYTHONPATH, not from sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(ROOT, ".benchdata", "sf1"))
TARGET = int(os.environ.get("PROFILE_DOCS", "1000000"))


def main() -> None:
    from bench import force
    from pyspark.sql import functions as F

    from hebrew_ner_spark.bench_corpus import build_replicated
    from hebrew_ner_spark.operators import kg, labels, lattice
    from hebrew_ner_spark.session import get_spark
    from hebrew_ner_spark.sources.catalog import load_table

    spark = get_spark("profile-hybrid")
    spark.sparkContext.setLogLevel("ERROR")

    n1 = load_table(spark, SF1, "documents").count()
    hdir = os.path.join(tempfile.gettempdir(), f"profile_h{TARGET // 1000}k")
    nd = build_replicated(spark, SF1, hdir, max(1, -(-TARGET // n1)), n_src=n1)
    print(f"corpus: {nd} docs at {hdir}", flush=True)

    docs = load_table(spark, hdir, "documents")

    def stage(name, df_fn, warm=False):
        df = df_fn()
        if warm:
            force(df)
        t0 = time.perf_counter()
        n = force(df)
        w = time.perf_counter() - t0
        print(f"{name}: {w:.2f}s rows={n}", flush=True)
        return w

    def mlabels():
        return labels.morph_labels(docs)

    def multi():
        return labels.merge_morph_to_token(mlabels())

    def split_df():
        return labels.splitting(multi())

    def lat():
        return lattice.build_lattice(docs)

    def pruned():
        return lattice.prune_lattice(lat(), split_df())

    def md():
        return lattice.md_from_pruned(pruned())

    def md_labelled():
        return md().join(
            mlabels().select("doc_id", "word_index", "morph_index", "mlabel").hint(
                "merge"
            ),
            ["doc_id", "word_index", "morph_index"],
        )

    def merged():
        return (
            md_labelled()
            .groupBy("doc_id", "word_index")
            .agg(
                F.expr(
                    "concat_ws('^', transform(array_sort(collect_list(struct(morph_index, mlabel))),"
                    " x -> x.mlabel))"
                ).alias("multi_label")
            )
        )

    def full():
        return merged().select(
            "doc_id",
            "word_index",
            labels.validate_multi_udf("multi_label").alias("label"),
        )

    out = {}
    for name, fn in [
        ("1_mlabels", mlabels),
        ("2_multi", multi),
        ("3_split", split_df),
        ("4_lattice", lat),
        ("5_pruned", pruned),
        ("6_md", md),
        ("7_md_labelled", md_labelled),
        ("8_merged", merged),
        ("9_full", full),
    ]:
        out[name] = round(stage(name, fn, warm=(name == "1_mlabels")), 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
