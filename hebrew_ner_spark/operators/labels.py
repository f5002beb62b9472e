"""Label-space operators: morphological refinement, multi-tag merge and
validation, tag-scheme conversion, dictionary encoding, span extraction.

Reference parity map (SURVEY.md §2):

* P11 splitting           -> ``size(split(label, '\\^'))``
* J2+A4 origins merge     -> groupBy (doc, token) + order-explicit
                             ``concat_ws('^', ...)`` (ner.py:145-160)
* P10 multi->single       -> Arrow helper ``_validate_distinct`` over
                             functions/labels.validate_multi_to_single
                             (ner.py:177-222, quirks preserved): once per
                             distinct label, behind the ``validate_multi_udf``
                             arrow_udf and inside the fused hybrid kernel
                             (``lattice.prune_merge_validate``, once per
                             distinct (token, label) of a batch)
* E9 scheme converters    -> BIOES->BIO is a pure projection; BIO->BIOES
                             needs lead() over (doc, word_index)
                             (tagSchemeConverter.py:14-110)
* J6 alphabet encode      -> broadcast vocab join + coalesce-to-unk
                             (alphabet.py:46-55)
* P12 span extraction     -> running-sum window variant (ner.py:398-419)

Everything except the P10 kernel is JVM-side. The morph dictionary is a
constant-folded CASE expression (the YAP-analyzer stand-in): at 10^12 docs
a real analyzer drops into the same column contract as a pandas UDF.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf

from hebrew_ner_spark.functions.labels import validate_multi_to_single
from hebrew_ner_spark.operators import kg
from hebrew_ner_spark.resources import MORPH_SPLITS


def _morph_case_expr(token_col: str = "token") -> str:
    """CASE expression mapping a token to its morpheme array (deterministic
    analyzer). Constant-folded by Catalyst — no join, no Python."""
    whens = " ".join(
        f"WHEN '{tok}' THEN array({', '.join(repr(m) for m in morphs)})"
        for tok, morphs in MORPH_SPLITS.items()
    )
    return f"CASE {token_col} {whens} ELSE array({token_col}) END"


def morphemes(docs: DataFrame) -> DataFrame:
    """(doc_id, word_index, morph_index, morpheme) — MD lattice analog
    (single path per token, utils/yap.py:74-103)."""
    toks = kg.doc_tokens(docs)
    return toks.select(
        "doc_id",
        "word_index",
        F.posexplode(F.expr(_morph_case_expr())).alias("morph_index", "morpheme"),
    ).withColumn("morph_index", F.col("morph_index").cast("long"))


def refined_label_array_expr(
    token_col: str = "token", label_col: str = "label"
) -> str:
    """SQL expr: per-token array of morpheme-level BIOSE labels — the
    token label refined positionally over the token's morphemes
    (S -> B I* E etc.), used by ``morph_labels``. The fused hybrid
    kernel (``lattice.prune_merge_validate``) applies the same rule in
    Python, ``functions/labels.refine_token_label``, once per distinct
    (token, label); tests/test_hybrid_fused.py pins the two equal."""
    k = f"size({_morph_case_expr(token_col)})"
    label = label_col
    return f"""
      CASE WHEN {k} = 1 OR {label} NOT LIKE '%-%' THEN array_repeat({label}, {k})
           WHEN {label} LIKE 'S-%' THEN concat(
                array(concat('B-', substring({label}, 3))),
                array_repeat(concat('I-', substring({label}, 3)), {k} - 2),
                array(concat('E-', substring({label}, 3))))
           WHEN {label} LIKE 'B-%' THEN concat(
                array({label}),
                array_repeat(concat('I-', substring({label}, 3)), {k} - 1))
           WHEN {label} LIKE 'E-%' THEN concat(
                array_repeat(concat('I-', substring({label}, 3)), {k} - 1),
                array({label}))
           ELSE array_repeat({label}, {k})
      END
    """


def morph_labels(docs: DataFrame) -> DataFrame:
    """Morpheme-level BIOSE labels: (doc_id, word_index, morph_index,
    morpheme, mlabel).

    The token-level label is refined positionally over the token's
    morphemes (S -> B I* E etc.; functions/labels.refine_token_label) —
    the deterministic stand-in for the reference's morph NER model output.
    """
    lbl = kg.doc_token_labels(docs)
    refined = refined_label_array_expr()
    return (
        lbl.withColumn("m_arr", F.expr(_morph_case_expr()))
        .withColumn("l_arr", F.expr(refined))
        .select(
            "doc_id",
            "word_index",
            F.posexplode(F.arrays_zip("m_arr", "l_arr")).alias("morph_index", "z"),
        )
        .select(
            "doc_id",
            "word_index",
            F.col("morph_index").cast("long").alias("morph_index"),
            F.col("z.m_arr").alias("morpheme"),
            F.col("z.l_arr").alias("mlabel"),
        )
    )


def merge_morph_to_token(mlabels: DataFrame, reverse: bool = False) -> DataFrame:
    """J2+A4: re-aggregate morpheme rows to tokens with '^'-joined labels.

    (doc_id, word_index, merged_word, multi_label). Ordering is explicit
    (array_sort on morph_index) — the Spark-required fix for pandas'
    implicit groupby order (SURVEY.md §2.5 A1 note). ``reverse=True``
    scrambles the sequence to exercise the relaxed P10 fallback.
    """
    order = F.expr(
        "array_sort(collect_list(struct(morph_index, morpheme, mlabel)))"
    )
    merged = (
        mlabels.groupBy("doc_id", "word_index")
        .agg(order.alias("ms"))
        .withColumn("ms", F.reverse("ms") if reverse else F.col("ms"))
        .select(
            "doc_id",
            "word_index",
            F.expr("concat_ws('^', transform(ms, x -> x.morpheme))").alias("merged_word"),
            F.expr("concat_ws('^', transform(ms, x -> x.mlabel))").alias("multi_label"),
        )
    )
    return merged


def _validate_distinct(multi: pa.Array) -> pa.Array:
    """P10 over an Arrow string array (ner.py:177-222): each DISTINCT
    multi-label is validated once and the results are taken back to row
    order. Validation is a pure function of the string and real corpora
    draw labels from a tiny repertoire, so this cuts the Python cost from
    O(rows) to O(distinct) (measured ~45 s -> ~2 s on the 1M-doc hybrid
    chain's final pass). A null label raises, as the reference's per-row
    path crashes on it too."""
    if multi.null_count:
        raise ValueError("validate_multi_udf: null multi_label")
    enc = pc.dictionary_encode(multi)
    single = pa.array(
        [validate_multi_to_single(u)[0] for u in enc.dictionary.to_pylist()],
        pa.string(),
    )
    return single.take(enc.indices)


def validate_multi_udf(col):
    """P10 as a scalar Arrow UDF around ``_validate_distinct``; the fused
    hybrid kernel (``lattice.prune_merge_validate``) calls the helper
    directly on its distinct (token, label) merges instead.

    The UDF is built lazily at call time: creating it at module import
    would require an active SparkSession, which breaks the
    import-before-session order under spark-submit --py-files.
    """

    @arrow_udf("string")
    def _validate(multi: pa.Array) -> pa.Array:
        return _validate_distinct(multi)

    return _validate(col)


def linguistic_groups_udf(col):
    """G4 as an Arrow-vectorized kernel: morpheme array ->
    struct(groups array<array<long>>, surface array<string>)
    (make_groupings_linguistically, ner.py:260-396). Sequences the
    reference would crash on (its unguarded quirks) yield null."""

    @pandas_udf("struct<groups: array<array<bigint>>, surface: array<string>>")
    def _group(morphs: pd.Series) -> pd.DataFrame:
        from hebrew_ner_spark.functions.grouping import make_groupings

        groups, surfaces = [], []
        for m in morphs:
            try:
                g, s = make_groupings(list(m))
                groups.append([[int(i) for i in grp] for grp in g])
                surfaces.append(list(s))
            except (AssertionError, IndexError):
                groups.append(None)
                surfaces.append(None)
        return pd.DataFrame({"groups": groups, "surface": surfaces})

    return _group(col)


def splitting(merged: DataFrame) -> DataFrame:
    """P11: per-token morpheme count from the multi label (ner.py:162-174)."""
    return merged.select(
        "doc_id",
        "word_index",
        F.size(F.split("multi_label", r"\^")).cast("long").alias("splitting"),
    )


def bioes_to_bio_df(labels: DataFrame, col: str = "label") -> DataFrame:
    """E9: S->B, E->I. Pure projection, no shuffle."""
    return labels.withColumn(
        col,
        F.expr(
            f"CASE WHEN {col} LIKE 'S-%' THEN concat('B-', substring({col}, 3)) "
            f"WHEN {col} LIKE 'E-%' THEN concat('I-', substring({col}, 3)) "
            f"ELSE {col} END"
        ),
    )


def bio_to_bioes_df(labels: DataFrame, col: str = "label") -> DataFrame:
    """E9 inverse: promote B->S / I->E when the run does not continue.

    Needs lead() over (doc_id, word_index) — one shuffle by doc_id unless
    the table is already hash-distributed by doc_id (our checkpoint
    contract guarantees it at stage boundaries).
    """
    w = Window.partitionBy("doc_id").orderBy("word_index")
    nxt = F.lead(col).over(w)
    return labels.withColumn(
        col,
        F.when(
            F.col(col).startswith("B-"),
            F.when(
                nxt == F.concat(F.lit("I-"), F.expr(f"substring({col}, 3)")),
                F.col(col),
            ).otherwise(F.concat(F.lit("S-"), F.expr(f"substring({col}, 3)"))),
        )
        .when(
            F.col(col).startswith("I-"),
            F.when(
                nxt == F.col(col),
                F.col(col),
            ).otherwise(F.concat(F.lit("E-"), F.expr(f"substring({col}, 3)"))),
        )
        .otherwise(F.col(col)),
    )


def build_vocab(docs: DataFrame) -> DataFrame:
    """Alphabet build over the 'training half' (even doc_ids): distinct
    tokens -> dense ids from 1 (0 is reserved, alphabet.py:16-44).

    Ids are the global alphabetical rank, assigned with a **two-level
    rank** instead of one un-partitioned window: rank within a prefix
    bucket (hash-partitioned window — every executor sorts only its
    buckets) plus a cumulative bucket offset. The only single-partition
    window runs over the bucket-count table (at most |alphabet|^2 rows —
    thousands — regardless of vocabulary size), so a 10^8-type web-corpus
    vocabulary never funnels through one task. The 2-char prefix is a
    monotone key: ordering by (bucket, token) == ordering by token.
    """
    vocab = (
        kg.doc_tokens(docs.where(F.col("doc_id") % 2 == 0))
        .select("token")
        .distinct()
        .withColumn("bkt", F.substring("token", 1, 2))
    )
    local = vocab.withColumn(
        "local_rank",
        F.row_number().over(Window.partitionBy("bkt").orderBy("token")),
    )
    counts = vocab.groupBy("bkt").agg(F.count("*").alias("n"))
    offsets = counts.withColumn(
        "off",
        F.coalesce(
            F.sum("n").over(
                Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("bkt", "off")
    return local.join(F.broadcast(offsets), "bkt").select(
        "token", (F.col("off") + F.col("local_rank")).cast("long").alias("token_id")
    )


# Hot-tier size for the tiered vocab join. 2^16 token strings broadcast
# in a few MB; a web-corpus vocabulary (10^8+ types) must NEVER broadcast
# whole, but its frequency distribution is zipfian — the top 64k types
# cover the overwhelming majority of token OCCURRENCES, so almost every
# row resolves in the map-side tier and only the rare-type tail shuffles.
ALPHABET_HOT_K = 1 << 16

# previous invocation's persisted token table (see alphabet_encode)
_LAST_TOKS: DataFrame | None = None


def alphabet_encode(
    docs: DataFrame, unk_id: int = 0, hot_k: int = ALPHABET_HOT_K
) -> DataFrame:
    """J6 tiered: token -> id; misses -> unk (alphabet.py:46-55 `</unk>`
    fallback). Two tiers, same output as a single full-vocab join:

    1. the ``hot_k`` most frequent vocab tokens (count DESC, token ASC —
       a TakeOrdered, never a single-partition sort) broadcast and join
       map-side — at web scale this resolves ~all occurrences;
    2. rows missing from the hot tier sort-merge-join the full vocab
       (hinted, so the plan never depends on a size estimate that would
       try to broadcast 10^8 rows).
    """
    from pyspark import StorageLevel

    # One corpus scan, not three: `toks` feeds the frequency agg AND both
    # union branches below. Serialized + disk-spillable so a 10^12-token
    # corpus degrades to disk reads instead of re-tokenizing per branch.
    # The handle is function-local, so it can never be unpersisted by the
    # caller — bound the footprint to ONE cached table per session by
    # evicting the previous invocation's table on re-entry (repeated
    # bench reps / gate re-runs would otherwise pin a fresh copy of the
    # whole tokenized corpus each call until the session dies).
    global _LAST_TOKS
    if _LAST_TOKS is not None:
        try:
            _LAST_TOKS.unpersist()
        except Exception:
            # the previous invocation's SparkSession was stopped (e.g. a
            # bench cycle or test fixture restarted the session in this
            # process) — its cached blocks died with the context, so there
            # is nothing left to evict; unpersist on the dead handle
            # raises from the JVM gateway and must not fail THIS call
            pass
    toks = kg.doc_tokens(docs).persist(StorageLevel.MEMORY_AND_DISK_DESER)
    _LAST_TOKS = toks
    vocab = build_vocab(docs)
    freq = toks.groupBy("token").agg(F.count("*").alias("_n"))
    hot = (
        vocab.join(freq, "token", "left")
        .orderBy(F.desc_nulls_last("_n"), F.asc("token"))
        .limit(hot_k)
        .select("token", "token_id")
    )
    enc = toks.join(F.broadcast(hot), "token", "left")
    tail = (
        enc.where(F.col("token_id").isNull())
        .drop("token_id")
        .join(vocab.hint("merge"), "token", "left")
    )
    return enc.where(F.col("token_id").isNotNull()).unionByName(tail).select(
        "doc_id",
        "word_index",
        "token",
        F.coalesce("token_id", F.lit(unk_id)).cast("long").alias("token_id"),
    )


def spans_from_labels(labels: DataFrame) -> DataFrame:
    """P12 window variant: BIOSE long table -> (doc_id, cat, lo, hi) spans.

    span_id = running count of B-/S- starts per doc; group on it.
    The array-side variant (kg.mention_spans) is shuffle-free; this one is
    the general form that works on any labelled long table.
    """
    w = Window.partitionBy("doc_id").orderBy("word_index")
    flagged = labels.withColumn(
        "span_id",
        F.sum(
            F.when(F.col("label").rlike("^[BS]-"), 1).otherwise(0)
        ).over(w),
    ).where(F.col("label") != "O")
    return flagged.groupBy("doc_id", "span_id").agg(
        F.expr("substring(min(label), 3)").alias("cat"),
        F.min("word_index").alias("lo"),
        F.max("word_index").alias("hi"),
    ).drop("span_id")


def token_accuracy(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """A7/E1: token-level accuracy between two labelled long tables.

    One row: (n_tokens, n_match, accuracy_1e6)."""
    j = pred.select("doc_id", "word_index", F.col("label").alias("p")).join(
        gold.select("doc_id", "word_index", F.col("label").alias("g")),
        ["doc_id", "word_index"],
    )
    return j.agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("p") == F.col("g"), 1).otherwise(0)).cast("long").alias("n_match"),
        F.expr(
            "CAST((2 * (sum(CASE WHEN p = g THEN 1 ELSE 0 END)) * 1000000 + (count(*))) DIV (2 * (count(*))) AS BIGINT)"
        ).alias("accuracy_1e6"),
    )


def span_counts_by_doc(pred_spans: DataFrame, gold_spans: DataFrame) -> DataFrame:
    """(doc_id, n_pred, n_gold, n_correct) — full outer over docs, so
    gold-only documents (pure recall misses) are counted, unlike the
    prediction-anchored nested view."""
    keys = ["doc_id", "cat", "lo", "hi"]
    np_ = pred_spans.groupBy("doc_id").agg(F.count("*").alias("n_pred"))
    ng = gold_spans.groupBy("doc_id").agg(F.count("*").alias("n_gold"))
    nc = (
        pred_spans.join(gold_spans, keys, "inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_correct"))
    )
    return (
        np_.join(ng, "doc_id", "full")
        .join(nc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("n_gold", F.lit(0)).cast("long").alias("n_gold"),
            F.coalesce("n_correct", F.lit(0)).cast("long").alias("n_correct"),
        )
    )


BOOTSTRAP_F1_B = 32


def bootstrap_span_f1(doc_counts: DataFrame, b: int = BOOTSTRAP_F1_B) -> DataFrame:
    """E6 at evaluation grain (utils/eval/conf_interval.py:17-31):
    resample DOCUMENTS, recompute micro span F1 per replica.

    Deterministic single-pass bootstrap — weight of (doc, replica) =
    phash(doc_id:replica) % 3 (coarse Poisson(1), mean 1), one b-fold
    explode + one aggregate, no RNG state to ship. Output one row per
    replica: weighted counts + micro F1 = 2c/(p+g) in exact micro units.
    """
    weighted = doc_counts.select(
        "doc_id",
        "n_pred",
        "n_gold",
        "n_correct",
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("replica"),
    ).withColumn(
        "w",
        F.expr(
            "pmod(CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', "
            "CAST(replica AS STRING))), 1, 15), 16, 10) AS BIGINT), 3)"
        ),
    )
    return (
        weighted.groupBy("replica")
        .agg(
            F.expr("CAST(sum(w * n_pred) AS BIGINT)").alias("n_pred_w"),
            F.expr("CAST(sum(w * n_gold) AS BIGINT)").alias("n_gold_w"),
            F.expr("CAST(sum(w * n_correct) AS BIGINT)").alias("n_correct_w"),
            F.expr(
                # explicit DOUBLE: decimal-typed literals would quantize
                # differently from the DuckDB oracle (see span_prf)
                "CASE WHEN sum(w * n_pred) + sum(w * n_gold) = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST(floor(2.0 * CAST(sum(w * n_correct) AS DOUBLE) "
                "/ (sum(w * n_pred) + sum(w * n_gold)) * 1000000.0 + 0.5) AS BIGINT) END"
            ).alias("f1_1e6"),
        )
        .withColumn("replica", F.col("replica").cast("long"))
    )


def bootstrap_span_f1_ci(doc_counts: DataFrame, b: int = BOOTSTRAP_F1_B) -> DataFrame:
    """Percentile CI from the replica distribution via exact order
    statistics (engine-agnostic, unlike interpolated percentiles): lo =
    2nd smallest, hi = 2nd largest of the b replica F1s (a ~93.75% CI at
    b=32), plus the unresampled point estimate."""
    boot = bootstrap_span_f1(doc_counts, b)
    w = Window.orderBy(F.asc("f1_1e6"), F.asc("replica"))
    ranked = boot.withColumn("rk", F.row_number().over(w))
    point = doc_counts.agg(
        F.expr(
            "CASE WHEN sum(n_pred) + sum(n_gold) = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(floor(2.0 * CAST(sum(n_correct) AS DOUBLE) "
            "/ (sum(n_pred) + sum(n_gold)) * 1000000.0 + 0.5) AS BIGINT) END"
        ).alias("f1_point_1e6")
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("f1_1e6"))).cast("long").alias("f1_lo_1e6"),
        F.max(F.when(F.col("rk") == b - 1, F.col("f1_1e6"))).cast("long").alias(
            "f1_hi_1e6"
        ),
        F.count("*").cast("long").alias("n_replicas"),
    )
    return ci.crossJoin(point)


def normal_ci(f1: float, n: int, z: float = 1.96) -> float:
    """E5: normal-approximation confidence half-width for an F1 over n
    samples (utils/eval/conf_interval.py:34-45). Driver-side scalar."""
    import math

    return z * math.sqrt(f1 * (1 - f1) / n)


def span_prf(pred_spans: DataFrame, gold_spans: DataFrame) -> DataFrame:
    """A8/J5/E1: micro P/R/F over exact span matches (CoNLL-2003 style).

    |correct| = inner join on (doc_id, cat, lo, hi); one output row with
    integer micro-unit metrics so the hash is exact. Entirely one Spark
    plan — no driver-side counts, so it is a single job and works at any
    scale. floor(x + 0.5), not round(): Python rounds half-to-even, SQL
    half-up — this form is identical in every engine.
    """
    keys = ["doc_id", "cat", "lo", "hi"]
    np_ = pred_spans.agg(F.count("*").cast("long").alias("n_pred"))
    ng = gold_spans.agg(F.count("*").cast("long").alias("n_gold"))
    nc = (
        pred_spans.join(gold_spans, keys, "inner")
        .agg(F.count("*").cast("long").alias("n_correct"))
    )
    # every ratio is computed in explicit DOUBLE: a bare `x * 1.0` makes
    # Spark evaluate the chain in DECIMAL(38,6) while DuckDB uses DOUBLE,
    # and the two quantizations disagree at the floor(+0.5) boundary
    # (observed: f1 661141 vs 661140 at sf0.001)
    return np_.crossJoin(ng).crossJoin(nc).select(
        "n_pred",
        "n_gold",
        "n_correct",
        F.expr(
            "CASE WHEN n_pred = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST(floor((CAST(n_correct AS DOUBLE) / n_pred) * 1000000.0 + 0.5) AS BIGINT) END"
        ).alias("p_1e6"),
        F.expr(
            "CASE WHEN n_gold = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST(floor((CAST(n_correct AS DOUBLE) / n_gold) * 1000000.0 + 0.5) AS BIGINT) END"
        ).alias("r_1e6"),
        F.expr(
            "CASE WHEN n_pred = 0 OR n_gold = 0 OR n_correct = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST(floor(2.0 * (CAST(n_correct AS DOUBLE) / n_pred) * (CAST(n_correct AS DOUBLE) / n_gold) "
            "/ (CAST(n_correct AS DOUBLE) / n_pred + CAST(n_correct AS DOUBLE) / n_gold) * 1000000.0 + 0.5) AS BIGINT) END"
        ).alias("f1_1e6"),
    )
