"""BPE merge training — tokenizer induction over the corpus vocabulary.

The byte-pair-encoding training loop (Sennrich et al. 2016, the algorithm
behind GPT-2/LLaMA tokenizers): start from characters, repeatedly merge
the globally most frequent adjacent symbol pair. This is the canonical
"learn a tokenizer from the crawl" stage of a training-data pipeline —
the piece the reference's fixed `hebrew_tokenizer` port (T1/T2,
functions/tokenizer.py) deliberately does not cover.

Scale shape (10^12 docs):

* Training runs over the word-frequency (Zipf) table, NOT the corpus —
  one map-side-combined aggregate reduces 10^12 docs to vocab grain
  (10^7-10^8 rows), and every round after that touches only that table.
* Per round: one array-side pair expansion (zero joins), one
  (l, r)-keyed aggregate with map-side partial combine, and one global
  argmax via TakeOrdered(1) — each partition ships a single candidate
  row to the driver, the exact same O(partitions) action class as the
  connected-components convergence count (canonicalize.py). The winning
  pair then folds into the next round's plan AS LITERALS, so round r's
  plan is the persisted vocab plus r narrow `replace` maps — no
  recursive re-computation of earlier argmaxes, no growing shuffle
  lineage.
* The vocab table is persisted once (slot-evicted, the graphstats
  discipline); R rounds therefore cost R vocab-grain scans, not R corpus
  scans.

Cross-engine exactness (the oracle replays training bit-for-bit): symbol
strings use the WRAPPED encoding — every symbol owns one space on each
side, so adjacent symbols are separated by exactly two spaces:

    'hello'  ->  ' h  e  l  l  o '

Merging pair (l, r) is then ``replace(s, ' l  r ', ' lr ')``. Both
engines' ``replace`` scans left-to-right non-overlapping — exactly BPE's
greedy merge rule (``' a  a  a  a '`` -> ``' aa  aa '``, because the
match ends at r's OWN trailing space, leaving the next symbol's leading
space intact) — and the closing space means the pattern can never match
a proper prefix of a longer symbol (``(a, b)`` does not fire inside
``' a  bc '``). Argmax ties break (count DESC, l ASC, r ASC) on binary
string order, identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hebrew_ner_spark.operators.graphstats import _evict, _persist
from hebrew_ner_spark.operators.textstats import token_freq
from hebrew_ner_spark.plans.rounds import lineage_breaker

BPE_ROUNDS = 4  # default merge rounds for the gated training run

# Plan-depth bound for the merge loop: every round stacks one narrow
# `replace` projection onto the vocab plan, which is fine at gate-scale
# round counts but grows the analyzer/optimizer input linearly — at a
# real-vocab merge budget (~10k rounds) the plan itself becomes the
# bottleneck. Every BPE_BREAK_EVERY rounds the segmented vocab goes
# through the shared lineage breaker (``plans/rounds.py``), so plan
# depth is bounded by the constant while normal rounds stay
# zero-materialization.
BPE_BREAK_EVERY = 32

_MERGE_SCHEMA = T.StructType(
    [
        T.StructField("round", T.LongType(), False),
        T.StructField("l", T.StringType(), False),
        T.StructField("r", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)

# (l, r) adjacent symbol pairs from the wrapped string `s`, weighted by
# word frequency `n` — array-side, no join.
_PAIRS_EXPR = (
    "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS l, a[i + 1] AS r))"
)


def _wrapped_vocab(docs: DataFrame) -> DataFrame:
    """(s, n): word-frequency table with chars in the wrapped encoding."""
    return token_freq(docs).select(
        F.regexp_replace("token", "(.)", " $1 ").alias("s"),
        F.col("n").cast("long").alias("n"),
    )


def _merge_expr(l: str, r: str) -> str:
    # literals arrive from our own argmax rows; quote for SQL
    ql, qr = l.replace("'", "''"), r.replace("'", "''")
    return (
        f"replace(s, concat(' ', '{ql}', '  ', '{qr}', ' '),"
        f" concat(' ', '{ql}{qr}', ' '))"
    )


def _pair_counts(w: DataFrame) -> DataFrame:
    return (
        w.select("n", F.split(F.trim("s"), "  ").alias("a"))
        .where(F.size("a") >= 2)
        .select("n", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("n").cast("long").alias("cnt"))
    )


def _train(docs: DataFrame, rounds: int) -> tuple[list[Row], DataFrame]:
    """Run the merge loop; returns (winner rows, final segmented vocab)."""
    _evict("bpe")
    w = _persist("bpe", _wrapped_vocab(docs))
    _break = lineage_breaker(w)
    winners: list[Row] = []
    depth = 0
    for rnd in range(1, rounds + 1):
        top = (
            _pair_counts(w)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()  # TakeOrdered(1): one candidate row per partition
        )
        if not top:
            break  # vocabulary fully merged — nothing adjacent remains
        l, r, cnt = top[0].l, top[0].r, top[0].cnt
        winners.append(Row(round=rnd, l=l, r=r, cnt=cnt))
        w = w.select(F.expr(_merge_expr(l, r)).alias("s"), "n")
        depth += 1
        if depth >= BPE_BREAK_EVERY:
            w = _break(w)  # bound plan depth (module constant note)
            depth = 0
    return winners, w


def bpe_merges(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """(round, l, r, cnt): the learned merge table — the BPE "model"
    artifact, one row per training round in application order."""
    winners, _ = _train(docs, rounds)
    return docs.sparkSession.createDataFrame(winners, _MERGE_SCHEMA)


def bpe_vocab(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """(token, n, n_symbols, segmented): every vocabulary word segmented
    by the learned merges — `segmented` is '|'-joined symbols, the
    subword split a downstream token counter would use. Vocab-grain:
    one narrow map chain over the persisted Zipf table."""
    winners, w = _train(docs, rounds)
    return w.select(
        F.replace(F.col("s"), F.lit(" "), F.lit("")).alias("token"),
        "n",
        F.replace(F.trim("s"), F.lit("  "), F.lit("|")).alias("segmented"),
    ).select(
        "token",
        "n",
        (F.size(F.split("segmented", "\\|"))).cast("long").alias("n_symbols"),
        "segmented",
    )


BPE_HOT_K = 65_536  # hot-tier size for the occurrence join (alphabet_encode discipline)


def bpe_encode(
    docs: DataFrame, rounds: int = BPE_ROUNDS, hot_k: int = BPE_HOT_K
) -> DataFrame:
    """(doc_id, word_index, piece_index, piece): the corpus encoded with
    the learned merges — the APPLY half of tokenizer induction (what the
    trained artifact is for).

    Scale shape: segmentation is resolved once at VOCAB grain (the same
    persisted Zipf table training used — merges never touch corpus
    text), then joined back onto token occurrences. The segmentation
    table is vocabulary-sized: broadcast here; at a web-corpus vocab
    (10^8 types) it becomes the tiered hot/tail join alphabet_encode
    already implements (operators/labels.py) — the occurrence side never
    re-runs a single merge. Piece explosion is array-side posexplode
    (zero extra shuffle after the join).
    """
    _, w = _train(docs, rounds)
    seg = w.select(
        F.replace(F.col("s"), F.lit(" "), F.lit("")).alias("token"),
        F.split(F.trim("s"), "  ").alias("pieces"),
        F.col("n"),
    )
    occ = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("word_index", "token")
    )
    # Tiered join (the alphabet_encode discipline): broadcast only the
    # hot_k most frequent types (count DESC, token ASC — a TakeOrdered,
    # never a single-partition sort); the tail, which at a web-scale
    # vocabulary can be 10^8 types, resolves through a hinted
    # sort-merge join so the plan never gambles on a size estimate.
    hot = seg.orderBy(F.desc("n"), "token").limit(hot_k).select("token", "pieces")
    tail = seg.join(hot.select("token"), "token", "left_anti").select("token", "pieces")
    hit = occ.join(F.broadcast(hot), "token")
    miss = occ.join(F.broadcast(hot.select("token")), "token", "left_anti").join(
        tail.hint("merge"), "token"
    )
    return (
        hit.unionByName(miss)
        .select(
            "doc_id",
            F.col("word_index").cast("long").alias("word_index"),
            F.posexplode("pieces").alias("piece_index", "piece"),
        )
        .select(
            "doc_id",
            "word_index",
            F.col("piece_index").cast("long").alias("piece_index"),
            "piece",
        )
    )
