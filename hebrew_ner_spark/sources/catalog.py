"""Table catalog: scans and sinks.

In production every stage reads/writes Iceberg tables
(``spark.read.format("iceberg")``) bucketed by ``bucket(N, url)`` so stage
boundaries don't reshuffle, with snapshot ids recorded in the lineage ledger
(see plans/checkpoint.py). The sandbox has no Iceberg runtime jar, so this
module speaks parquet with the same layout and the same call signatures —
swapping the format string is the only change needed on a cluster.

Reference scans S1-S5 (utils/ner.py:32-115, utils/yap.py:138-161) are file/
HTTP parsers; here every source is a columnar table scan so Catalyst gets
predicate pushdown and column pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The driver-generated synthetic warehouse (TESTDATA.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table. Parquet here; Iceberg in production."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def write_decoded_text(labels, path: str, n_partitions: int | None = None) -> None:
    """S10 decode sink (Data.write_decoded_results, utils/data.py:340-366):
    'word label' lines, one blank line between documents.

    Documents are whole within a partition (groupBy doc); a deterministic
    single-file layout (n_partitions=1) is for fixtures/goldens — at scale
    leave it partitioned and treat each part file as a shard.
    """
    from pyspark.sql import functions as F

    per_doc = (
        labels.groupBy("doc_id")
        .agg(
            F.expr(
                "concat_ws('\n', transform(array_sort(collect_list(struct(word_index, token, label))),"
                " x -> concat(x.token, ' ', x.label)))"
            ).alias("block")
        )
        .orderBy("doc_id")
        .select(F.concat(F.col("block"), F.lit("\n")).alias("value"))
    )
    if n_partitions:
        per_doc = per_doc.coalesce(n_partitions)
    per_doc.write.mode("overwrite").text(path)


def read_decoded_text(spark: SparkSession, path: str):
    """S1-pattern scan of the decode sink: blank line = document boundary,
    running sum over an input-ordered window reconstructs doc grouping."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lines = spark.read.text(path).withColumn(
        "_id", F.monotonically_increasing_id()
    )
    w = Window.orderBy("_id")
    return (
        lines.withColumn(
            "doc_seq",
            F.sum(F.when(F.col("value") == "", 1).otherwise(0)).over(w),
        )
        .where(F.col("value") != "")
        .withColumn("token", F.split("value", " ")[0])
        .withColumn("label", F.split("value", " ")[1])
        .withColumn(
            "word_index",
            F.row_number().over(Window.partitionBy("doc_seq").orderBy("_id")) - 1,
        )
        .select("doc_seq", F.col("word_index").cast("long").alias("word_index"), "token", "label")
    )


def write_nbest_decoded_text(
    nbest: DataFrame, path: str, n_partitions: int | None = None
) -> None:
    """S11 n-best decode sink (Data.write_nbest_decoded_results,
    utils/data.py:399-442): per document a ``# s1 s2 ... sk`` score
    header, then one ``token l1 l2 ... lk`` line per token (labels in
    rank order), blank line between documents.

    Input is the long n-best table from crf.nbest_labels
    (doc_id, rank, word_index, token, label, path_score). The reference
    header holds softmax path probabilities at 4 decimals; the integer
    path scores are emitted as per-document shares at the same '%.4f'
    format — the header is presentation, the exact scores live in the
    table.
    """
    from pyspark.sql import functions as F

    per_tok = nbest.groupBy("doc_id", "word_index").agg(
        F.max("token").alias("token"),
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(rank, label))),"
            " x -> x.label))"
        ).alias("labs"),
    )
    body = per_tok.groupBy("doc_id").agg(
        F.expr(
            "concat_ws('\n', transform(array_sort(collect_list(struct(word_index, token, labs))),"
            " x -> concat(x.token, ' ', x.labs)))"
        ).alias("body")
    )
    hdr = (
        nbest.select("doc_id", "rank", "path_score")
        .distinct()
        .groupBy("doc_id")
        .agg(F.expr("array_sort(collect_list(struct(rank, path_score)))").alias("rs"))
        .withColumn(
            "total", F.expr("aggregate(rs, 0L, (a, x) -> a + x.path_score)")
        )
        .select(
            "doc_id",
            F.expr(
                "concat('# ', concat_ws(' ', transform(rs, "
                "x -> format_string('%.4f', x.path_score / CAST(total AS DOUBLE)))))"
            ).alias("header"),
        )
    )
    out = (
        hdr.join(body, "doc_id")
        .orderBy("doc_id")
        .select(
            F.concat(
                F.col("header"), F.lit("\n"), F.col("body"), F.lit("\n")
            ).alias("value")
        )
    )
    if n_partitions:
        out = out.coalesce(n_partitions)
    out.write.mode("overwrite").text(path)


def read_nbest_decoded_text(spark: SparkSession, path: str):
    """Round-trip scan of the S11 sink: '# ...' starts a document,
    blank lines close it; token lines re-explode to the long
    (doc_seq, rank, word_index, token, label) table plus the header's
    score strings (doc_seq, rank, score_str)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lines = spark.read.text(path).withColumn("_id", F.monotonically_increasing_id())
    w = Window.orderBy("_id")
    tagged = lines.withColumn(
        "doc_seq",
        F.sum(F.when(F.col("value").startswith("# "), 1).otherwise(0)).over(w),
    ).where(F.col("value") != "")
    headers = (
        tagged.where(F.col("value").startswith("# "))
        .select(
            "doc_seq",
            F.posexplode(F.split(F.expr("substring(value, 3)"), " ")).alias(
                "r0", "score_str"
            ),
        )
        .select("doc_seq", (F.col("r0") + 1).cast("long").alias("rank"), "score_str")
    )
    toks = (
        tagged.where(~F.col("value").startswith("# "))
        .withColumn(
            "word_index",
            (F.row_number().over(Window.partitionBy("doc_seq").orderBy("_id")) - 1).cast(
                "long"
            ),
        )
        .withColumn("parts", F.split("value", " "))
        .select(
            "doc_seq",
            "word_index",
            F.col("parts")[0].alias("token"),
            F.posexplode(F.expr("slice(parts, 2, size(parts) - 1)")).alias(
                "r0", "label"
            ),
        )
        .select(
            "doc_seq",
            (F.col("r0") + 1).cast("long").alias("rank"),
            "word_index",
            "token",
            "label",
        )
    )
    return toks, headers


# --- N-Triples export / ingest ----------------------------------------------
#
# The KG materialization format peers actually exchange: one
# '<subj-iri> <pred-iri> <obj-iri> .' line per triple (W3C N-Triples).
# IRIs are minted under a fixed namespace; the only characters our
# closed extraction vocabulary can emit that N-Triples forbids inside
# an IRI are space, '<', '>', '"', '{', '}', '|', '^', '`', '\' — all
# percent-encoded. Serialization and parse are single codegen stages
# (format_string / regexp_extract), so export is shuffle-free shard
# writing and ingest is an embarrassingly parallel line scan.

NT_NS = "http://kg.example.org"

_NT_ESCAPES = [
    ("%", "%25"),  # first, so later escapes don't double-encode
    (" ", "%20"),
    ("<", "%3C"),
    (">", "%3E"),
    ('"', "%22"),
    ("{", "%7B"),
    ("}", "%7D"),
    ("|", "%7C"),
    ("^", "%5E"),
    ("`", "%60"),
    ("\\", "%5C"),
]


def _nt_escape(col):
    from pyspark.sql import functions as F

    out = col
    for ch, enc in _NT_ESCAPES:
        out = F.replace(out, F.lit(ch), F.lit(enc))
    return out


def ntriples_lines(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj, line): canonical N-Triples serialization of a
    distinct (subj, pred, obj) table."""
    from pyspark.sql import functions as F

    return triples.select(
        "subj",
        "pred",
        "obj",
        F.format_string(
            f"<{NT_NS}/e/%s> <{NT_NS}/p/%s> <{NT_NS}/e/%s> .",
            _nt_escape(F.col("subj")),
            _nt_escape(F.col("pred")),
            _nt_escape(F.col("obj")),
        ).alias("line"),
    )


def write_ntriples(triples: DataFrame, path: str, n_partitions: int | None = None) -> None:
    """Shard-partitioned .nt export (single file only for fixtures)."""
    from pyspark.sql import functions as F

    lines = ntriples_lines(triples).select(F.col("line").alias("value"))
    if n_partitions:
        lines = lines.coalesce(n_partitions)
    lines.write.mode("overwrite").text(path)


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """Parse an .nt shard set back to (subj, pred, obj) — one regexp
    stage, percent-decoding reversed in the same fixed order."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    pat = rf"^<{NT_NS}/e/([^>]*)> <{NT_NS}/p/([^>]*)> <{NT_NS}/e/([^>]*)> \.$"

    def _unescape(col):
        out = col
        for ch, enc in reversed(_NT_ESCAPES):
            out = F.replace(out, F.lit(enc), F.lit(ch))
        return out

    return lines.select(
        _unescape(F.regexp_extract("value", pat, 1)).alias("subj"),
        _unescape(F.regexp_extract("value", pat, 2)).alias("pred"),
        _unescape(F.regexp_extract("value", pat, 3)).alias("obj"),
    )


def rdf_patch_lines(old: DataFrame, new: DataFrame) -> DataFrame:
    """(op, subj, pred, obj, line): RDF-Patch-style delta between two
    triple snapshots — 'A <s> <p> <o> .' for triples present only in the
    new graph, 'D ...' for triples that vanished. The exchange format
    for INCREMENTAL KG publication: consumers replay the patch instead
    of re-ingesting the full N-Triples export (which at 10^12 facts is
    the difference between shipping the delta and shipping the world).

    Presence-grain by design (RDF has set semantics — evidence-count
    changes are graph_diff's 'changed' lane, not a patch op). Plan: two
    anti-joins on the triple key, co-located under the Iceberg
    bucket-transform layout the sinks use; serialization is the same
    single codegen stage as ntriples_lines.
    """
    from pyspark.sql import functions as F

    keys = ["subj", "pred", "obj"]
    o = old.select(*keys).distinct()
    n = new.select(*keys).distinct()
    added = n.join(o, keys, "left_anti").withColumn("op", F.lit("A"))
    removed = o.join(n, keys, "left_anti").withColumn("op", F.lit("D"))
    u = added.unionByName(removed)
    return u.select(
        "op",
        *keys,
        F.concat(
            F.col("op"),
            F.lit(" "),
            F.format_string(
                f"<{NT_NS}/e/%s> <{NT_NS}/p/%s> <{NT_NS}/e/%s> .",
                _nt_escape(F.col("subj")),
                _nt_escape(F.col("pred")),
                _nt_escape(F.col("obj")),
            ),
        ).alias("line"),
    )


# ---------------------------------------------------------------------------
# WET (Common-Crawl extracted-text) record format
# ---------------------------------------------------------------------------

_WET_SEP = "\r\n\r\n"


def wet_records(pages: DataFrame) -> DataFrame:
    """(url, record) — serialize (url, warc_ts, text, lang) rows into
    WET-style conversion records: a WARC/1.0 header block
    (WARC-Type/Target-URI/Date/Language/Content-Length) + CRLFCRLF +
    the payload. Content-Length is the exact payload byte length
    (octet_length — multi-byte text must count bytes, not chars), the
    field a WET reader trusts to frame the payload. Pure codegen
    concat; at production scale this is the map stage of a
    text-archive export."""
    from pyspark.sql import functions as F

    return pages.select(
        "url",
        F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
            F.col("url"),
            F.lit("\r\nWARC-Date: "),
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            F.lit("\r\nWARC-Identified-Content-Language: "),
            F.col("lang"),
            F.lit("\r\nContent-Length: "),
            F.octet_length("text").cast("string"),
            F.lit(_WET_SEP),
            F.col("text"),
        ).alias("record"),
    )


def parse_wet_records(records: DataFrame) -> DataFrame:
    """(url, warc_ts, lang, content_length, text, length_ok) — the WET
    reader: headers parsed by anchored regexps, payload = everything
    after the first CRLFCRLF (``split`` with limit 2, so payload CRLFs
    survive), and ``length_ok`` (BIGINT 0/1) verifying the framed
    Content-Length against the actual payload byte count — the
    integrity check a resumable archive ingest runs per record (a
    mismatch means a truncated fetch and the record must be refetched,
    not silently kept). Zero UDFs; one codegen projection."""
    from pyspark.sql import functions as F

    hdr = F.split(F.col("record"), F.lit(_WET_SEP), 2)
    head = hdr.getItem(0)
    body = hdr.getItem(1)
    clen = F.regexp_extract(head, r"Content-Length: ([0-9]+)", 1).cast("long")
    return records.select(
        F.regexp_extract(head, r"WARC-Target-URI: (\S+)", 1).alias("url"),
        F.to_timestamp(
            F.regexp_extract(head, r"WARC-Date: (\S+)", 1),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("warc_ts"),
        F.regexp_extract(
            head, r"WARC-Identified-Content-Language: (\S+)", 1
        ).alias("lang"),
        clen.alias("content_length"),
        body.alias("text"),
        F.when(F.octet_length(body) == clen, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("length_ok"),
    )
