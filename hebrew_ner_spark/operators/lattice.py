"""Morphological-lattice operators: build, DFS path enumeration, pruning.

The reference models each token's morphological analyses as a small DAG
(lattice) and prunes it with NER splitting evidence (G1-G3,
utils/yap_graph.py:23-105). Spark disposition (SURVEY.md §2.7): the
sub-lattices are tiny (<= ~30 vertices), so the DFS runs single-node
per token group inside Arrow batches — a distributed graph framework
would be pure overhead here, and per-group pandas frames
(applyInPandas) cost ~1 ms of overhead per document. Two batch grains:

* doc grain — the fused hybrid chain (``prune_merge_validate``) ships
  one row per document with its tokens and labels as arrays to
  ``mapInArrow``, so a batch holds whole documents (as in
  operators/mentions.py). A token's output is a pure function of its
  (token, label), so each DISTINCT pair is built into its lattice
  (``_token_lattice``), pruned, '^'-merged and validated once per
  batch, and the results are taken back to token order: the chain has
  one Python boundary and no JVM-side per-token rows;
* edge grain — ``prune_lattice`` and ``prune_merge_labels`` take edge
  rows through ``mapInPandas``, scanning (doc, token) group boundaries
  inside each batch and carrying a split trailing group forward.

Both grains share the memoized DFS keep-pattern (``_keep_pattern``),
and both fused entry points share the prune-and-join core
(``_prune_join``).

Design notes for 100 TB:
* the lattice edge table is generated array-side (constant-folded CASE per
  token — the in-process stand-in for the reference's HTTP YAP analyzer
  S14-S16, which cannot be a per-row HTTP call at scale);
* the positional zip of lattice groups with splitting rows
  (yap_graph.py:89) is made an explicit equi-join on (doc_id, word_index)
  — the survey's deliberate semantics-preserving fix (J4);
* pruning emits surviving edges directly from each group — the global
  tuple-membership filter (P2, `isin`) collapses into the same pass; a
  standalone left-semi-join variant is provided for the P2 parity check.
"""

from __future__ import annotations

import math
from typing import Dict, Iterator, List

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hebrew_ner_spark.functions.labels import refine_token_label
from hebrew_ner_spark.operators import kg
from hebrew_ner_spark.operators.labels import _validate_distinct
from hebrew_ner_spark.resources import MORPH_SPLITS

EDGE_SCHEMA = (
    "doc_id long, word_index long, edge_order long, from_v long, to_v long, form string"
)


class Lattice:
    """Adjacency-list DAG with the reference's exact DFS semantics.

    Behaviour-equivalent to YapGraph (utils/yap_graph.py:16-83): parallel
    edges dedup on insert, insertion order preserved; ``all_paths`` is the
    iterative DFS with a depth ``limit`` where, at the limit, the
    remaining adjacency iterator is consumed to test target reachability
    (the `end in peek` branch) — quirk preserved.
    """

    def __init__(self) -> None:
        self._adj: Dict[int, List[int]] = {}

    @classmethod
    def from_edges(cls, pairs) -> "Lattice":
        g = cls()
        for f, t in pairs:
            g._adj.setdefault(f, [])
            g._adj.setdefault(t, [])
            if t not in g._adj[f]:
                g._adj[f].append(t)
        return g

    def adj(self, node: int) -> Iterator[int]:
        return iter(self._adj.get(node, []))

    def all_paths(self, start: int, end: int, limit: float = math.inf):
        path = [start]
        stack = [self.adj(start)]
        while stack:
            peek = stack[-1]
            w = next(peek, None)
            if w is None:
                stack.pop()
                path.pop()
            elif len(path) < limit:
                if w == end:
                    yield path + [end]
                elif w not in path:
                    path.append(w)
                    stack.append(self.adj(w))
            else:
                if w == end or end in peek:
                    yield path + [end]
                stack.pop()
                path.pop()


def prune_edge_group(edges: List[tuple], split: int, fallback: bool) -> set:
    """Prune one token's lattice: keep edges on paths of length split+1.

    ``edges`` is [(from_v, to_v)] in lattice order. Mirrors prune_lattices
    (yap_graph.py:86-105): source = first row's FROM, target = last row's
    TO, exact-length paths preferred, ±1 fallback optional, keep-all when
    nothing survives.
    """
    g = Lattice.from_edges(edges)
    source, target = edges[0][0], edges[-1][1]
    path_len = split + 1
    paths = list(g.all_paths(source, target, limit=path_len))
    pruned = [p for p in paths if len(p) == path_len]
    if fallback and not pruned:
        pruned = [p for p in paths if abs(len(p) - path_len) <= 1]
    if pruned:
        paths = pruned
    valid = set()
    for p in paths:
        valid.update(zip(p[:-1], p[1:]))
    return valid


def _token_lattice(token: str) -> list[tuple[int, int, int, str]]:
    """A token's ambiguous lattice as (edge_order, from_v, to_v, form)
    edges — the analyzer stand-in, shared by the JVM CASE
    (``_lattice_case_expr``) and the fused kernel.

    Split tokens get a 2-path lattice (morpheme chain 0->1->...->k plus
    the whole-token shortcut 0->k); others a single edge 0->1.
    """
    morphs = MORPH_SPLITS.get(token)
    if morphs is None:
        return [(0, 0, 1, token)]
    k = len(morphs)
    return [(i, i, i + 1, m) for i, m in enumerate(morphs)] + [(k, 0, k, token)]


def _lattice_case_expr() -> str:
    """CASE expr: token -> array<struct<edge_order,from_v,to_v,form>>,
    generated from ``_token_lattice``."""

    def arr(edges, plain: bool) -> str:
        # a plain token's single edge carries the token column as its form
        return "array(" + ", ".join(
            f"named_struct('edge_order', {o}L, 'from_v', {f}L, 'to_v', {t}L,"
            f" 'form', {'token' if plain else repr(m)})"
            for o, f, t, m in edges
        ) + ")"

    whens = " ".join(
        f"WHEN '{tok}' THEN {arr(_token_lattice(tok), False)}" for tok in MORPH_SPLITS
    )
    return f"CASE token {whens} ELSE {arr(_token_lattice(''), True)} END"


def build_lattice(docs: DataFrame) -> DataFrame:
    """(doc_id, word_index, edge_order, from_v, to_v, form) — MA lattice
    edge table (LATTICE_COLUMNS analog, utils/yap.py:11-22)."""
    toks = kg.doc_tokens(docs)
    return toks.select(
        "doc_id",
        "word_index",
        F.explode(F.expr(_lattice_case_expr())).alias("e"),
    ).select("doc_id", "word_index", "e.edge_order", "e.from_v", "e.to_v", "e.form")


def _carry_groups(process):
    """Wrap a batch kernel so (doc_id, word_index) groups split across
    Arrow batch boundaries are processed whole: the trailing group of
    each batch is carried into the next. Shared by ``prune_lattice`` and
    ``prune_merge_labels``."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_doc = pdf["doc_id"].iloc[-1]
            last_wi = pdf["word_index"].iloc[-1]
            tail = (pdf["doc_id"] == last_doc) & (pdf["word_index"] == last_wi)
            carry = pdf.loc[tail]
            head = pdf.loc[~tail]
            if len(head):
                yield process(head)
        if carry is not None and len(carry):
            yield process(carry)

    return _run


def _group_bounds(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the contiguous (doc_id, word_index) groups of a
    batch sorted by them."""
    doc = pdf["doc_id"].to_numpy()
    wi = pdf["word_index"].to_numpy()
    bounds = np.flatnonzero(
        np.concatenate(([True], (doc[1:] != doc[:-1]) | (wi[1:] != wi[:-1]), [True]))
    )
    return bounds[:-1], bounds[1:]


def _keep_pattern(memo: dict, fv: np.ndarray, tv: np.ndarray, split: int) -> np.ndarray:
    """One token group's DFS keep-pattern (bool per edge), memoized per
    (edge-shape, splitting): real corpora have heavy-tailed but highly
    repetitive lattice shapes, so the hit rate is near 1.

    The memo key is the raw bytes of the group's (from, to) arrays —
    zero per-edge Python on the hit path (a tuple(zip(...)) key builds
    ~|edges| Python objects per GROUP, which at 10^8 token groups was
    the kernel's dominant cost; measured ~2x on the 1M-doc hybrid
    chain). Exact, not a hash: distinct shapes have distinct bytes."""
    key = (fv.tobytes(), tv.tobytes(), split)
    pattern = memo.get(key)
    if pattern is None:
        edges = list(zip(fv.tolist(), tv.tolist()))
        valid = prune_edge_group(edges, split, fallback=True)
        pattern = np.fromiter((pair in valid for pair in edges), dtype=bool)
        memo[key] = pattern
    return pattern


def prune_lattice(lattice: DataFrame, splitting: DataFrame) -> DataFrame:
    """G3 distributed: join splitting evidence, DFS-prune per token group.

    ``splitting`` is (doc_id, word_index, splitting) — the explicit join
    replacing the reference's positional zip. Output keeps the lattice
    schema; the P2 semi-join is implicit (surviving rows emitted in-place).
    """
    # splitting is CORPUS-grain (one row per token), so the join must
    # never gamble on a broadcast from size estimates: the replicated
    # bench corpus compresses ~100x (dictionary-encoded repeated text),
    # Catalyst sizes the scan from file bytes, and the generate between
    # scan and join hides the row blow-up — at a 1M-doc corpus the
    # planner chose broadcast and the driver OOM'd building it. The
    # merge hint pins SMJ/shuffle-hash (the bpe_encode tail-join
    # discipline); AQE still coalesces the shuffle when small.
    joined = lattice.join(
        splitting.hint("merge"), ["doc_id", "word_index"], "inner"
    )

    # (A JVM bypass for single-edge lattices was tried and reverted: the
    # union of a trivial branch and a pruned branch makes Catalyst build
    # the lattice twice — measured net 1.7x SLOWER than paying the Arrow
    # transfer for the whole table. The memo below keeps the Python cost
    # of unambiguous tokens near zero instead.)

    # Processing is at ARROW-BATCH grain, not per-document pandas groups:
    # groupBy(doc).applyInPandas builds one pandas frame per document —
    # ~1 ms of per-group overhead x 10^12 docs is the real scale killer
    # (measured: ~5 s of pure group overhead at 5k docs). Instead the
    # edge table is hash-partitioned by doc and sorted, and mapInPandas
    # scans (doc, word) boundaries inside each ~2k-row Arrow batch,
    # carrying a possibly-split trailing group into the next batch.
    memo: dict = {}
    cols = ["doc_id", "word_index", "edge_order", "from_v", "to_v", "form"]

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        fv = pdf["from_v"].to_numpy()
        tv = pdf["to_v"].to_numpy()
        sp = pdf["splitting"].to_numpy()
        keep = np.zeros(len(pdf), dtype=bool)
        for s, e in zip(*_group_bounds(pdf)):
            keep[s:e] = _keep_pattern(memo, fv[s:e], tv[s:e], int(sp[s]))
        return pdf.loc[keep, cols]

    # No repartition: the hinted SMJ output already co-locates every
    # (doc_id, word_index) group (its partitioning carries the join
    # keys), so a second full shuffle of the edge table bought nothing —
    # only the within-partition sort is needed for group contiguity.
    part = joined.sortWithinPartitions("doc_id", "word_index", "edge_order")
    return part.mapInPandas(_carry_groups(_process), EDGE_SCHEMA)


def _prune_join(
    memo: dict,
    starts: np.ndarray,
    ends: np.ndarray,
    fv: np.ndarray,
    tv: np.ndarray,
    splitting: np.ndarray,
    labels: pa.Array,
) -> tuple[np.ndarray, pa.Array]:
    """DFS-prune each token group and '^'-join its surviving labels.

    Group ``g`` is edges ``starts[g]:ends[g]`` of the flat per-edge
    ``fv``/``tv``/``labels`` arrays, with NER evidence ``splitting[g]``.
    A 1-edge lattice always keeps its edge (exact-length when splitting
    == 1, keep-all fallback otherwise), so only multi-edge groups run
    the memoized DFS. Returns ``(has, joined)``: ``has`` marks the groups
    with at least one surviving non-null label, ``joined`` holds those
    groups' labels '^'-joined in edge order. Both fused entry points
    (``prune_merge_labels``, ``prune_merge_validate``) call this."""
    keep = labels.is_valid().to_numpy(zero_copy_only=False, writable=True)
    multi = ends - starts > 1
    for s, e, sp in zip(
        starts[multi].tolist(), ends[multi].tolist(), splitting[multi].tolist()
    ):
        keep[s:e] &= _keep_pattern(memo, fv[s:e], tv[s:e], sp)
    cum = np.concatenate(([0], np.cumsum(keep)))
    counts = cum[ends] - cum[starts]
    has = counts > 0
    offsets = pa.array(np.concatenate(([0], np.cumsum(counts[has]))), pa.int32())
    kept = pa.ListArray.from_arrays(offsets, labels.filter(pa.array(keep)))
    return has, pc.binary_join(kept, "^")


MERGED_SCHEMA = "doc_id long, word_index long, multi_label string"


def prune_merge_labels(edge_rows: DataFrame) -> DataFrame:
    """Fused G1-G3 DFS prune + J2/A4 label merge at EDGE grain.

    ``edge_rows`` is (doc_id, word_index, edge_order, from_v, to_v,
    mlabel, splitting) with each (doc_id, word_index) group contiguous
    and in edge_order within its partition — document order out of
    ``explode`` qualifies, so NO shuffle or sort is required upstream.
    Output is TOKEN-grain (doc_id, word_index, multi_label): each
    token's lattice is DFS-pruned (``prune_edge_group``, the reference's
    semantics at yap_graph.py:86-105) and the mlabels of the surviving
    labelled edges are '^'-joined in edge order — exactly the md⋈mlabels
    inner join + ordered concat aggregate (ner.py:145-160), minus their
    two shuffles. Tokens whose surviving edges carry no mlabel emit
    nothing (the inner-join-drops-all case).

    ``hybrid_pipeline`` ships document rows to ``prune_merge_validate``
    instead; this edge-grain form serves callers that already hold edge
    rows. Both share ``_prune_join``.
    """
    memo: dict = {}

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        starts, ends = _group_bounds(pdf)
        has, joined = _prune_join(
            memo,
            starts,
            ends,
            pdf["from_v"].to_numpy(),
            pdf["to_v"].to_numpy(),
            pdf["splitting"].to_numpy()[starts],
            pa.array(pdf["mlabel"], pa.string(), from_pandas=True),
        )
        first = starts[has]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy()[first],
                "word_index": pdf["word_index"].to_numpy()[first],
                "multi_label": joined.to_numpy(zero_copy_only=False),
            }
        )

    return edge_rows.mapInPandas(_carry_groups(_process), MERGED_SCHEMA)


TOKEN_LABEL_SCHEMA = "doc_id long, word_index long, label string"


def prune_merge_validate(doc_rows: DataFrame) -> DataFrame:
    """The hybrid lifecycle's back half — morph refinement, lattice,
    G1-G3 DFS prune, J2/A4 label merge and P10 validation — in one
    doc-grain ``mapInArrow`` pass.

    ``doc_rows`` is (doc_id, toks, labels): one row per document, its
    tokens and their BIOSE labels as parallel arrays
    (``kg.doc_label_arrays``). Output is (doc_id, word_index, label): per
    token, the '^'-merge of its surviving labelled edges (``_prune_join``)
    collapsed to one BIOSE label (``labels._validate_distinct``). Tokens
    whose surviving edges carry no label emit nothing, as in
    ``prune_merge_labels``; so does a document with null arrays.

    A token's output is a pure function of (token, label): the lattice
    is per token (``_token_lattice``) and the refinement over its
    morphemes per label (``refine_token_label``, the Python form of
    ``refined_label_array_expr``). So each batch is flattened, each
    DISTINCT pair is resolved once and the results are taken back to
    token order. A contextual morph model would widen the key, not
    change the pass. The JVM builds no per-token rows and Python
    resolves a few thousand pairs per batch instead of every token: with
    the zip-cache fix (hebrew_ner_spark/zipcache.py) the hybrid_morph
    job's median went from 1.05 s (one token row per token, its lattice
    as list columns) to 0.47 s (10 seed pairs, local[4], 4-core VM).
    """
    memo: dict = {}

    def _resolve(pairs: list[tuple[str, str]]) -> pa.Array:
        # one lattice group per (token, label): chain edge i carries
        # morpheme label i, the whole-token shortcut none (the staged
        # plan's inner join drops it)
        fv, tv, ml, sizes, splitting = [], [], [], [], []
        for token, label in pairs:
            edges = _token_lattice(token)
            mlabels = refine_token_label(label, len(MORPH_SPLITS.get(token, (token,))))
            for order, f, t, _ in edges:
                fv.append(f)
                tv.append(t)
                ml.append(mlabels[order] if order < len(mlabels) else None)
            sizes.append(len(edges))
            splitting.append(len(mlabels))
        ends = np.cumsum(sizes)
        has, joined = _prune_join(
            memo,
            ends - sizes,
            ends,
            np.array(fv, np.int64),
            np.array(tv, np.int64),
            np.array(splitting, np.int64),
            pa.array(ml, pa.string()),
        )
        out = np.full(len(pairs), None, dtype=object)
        out[has] = _validate_distinct(joined).to_numpy(zero_copy_only=False)
        return pa.array(out, pa.string())

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            toks = b.column("toks")
            n = pc.list_value_length(toks).fill_null(0).to_numpy()
            # flatten() honours a sliced batch and null arrays; the word
            # index restarts at each document's first token
            doc = np.repeat(np.arange(len(n)), n)
            if not len(doc):
                continue
            word_index = np.arange(len(doc)) - (np.cumsum(n) - n)[doc]
            tok = pc.dictionary_encode(toks.flatten())
            lab = pc.dictionary_encode(b.column("labels").flatten())
            width = len(lab.dictionary)
            key = tok.indices.to_numpy().astype(np.int64) * width + lab.indices.to_numpy()
            uniq, inverse = np.unique(key, return_inverse=True)
            ti, li = np.divmod(uniq, width)
            pairs = list(
                zip(tok.dictionary.take(ti).to_pylist(), lab.dictionary.take(li).to_pylist())
            )
            out = _resolve(pairs).take(inverse)
            keep = out.is_valid()
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id").take(doc).filter(keep),
                    pa.array(word_index).filter(keep),
                    out.filter(keep),
                ],
                names=["doc_id", "word_index", "label"],
            )

    return doc_rows.mapInArrow(_run, TOKEN_LABEL_SCHEMA)


def filter_lattice_by_edges(lattice: DataFrame, valid_edges: DataFrame) -> DataFrame:
    """P2: tuple-membership filter as an explicit left-semi join
    (yap_graph.py:104-105's `.apply(tuple).isin(set)` made distributable)."""
    return lattice.join(
        valid_edges, ["doc_id", "word_index", "from_v", "to_v"], "left_semi"
    )


def md_from_pruned(pruned: DataFrame) -> DataFrame:
    """Disambiguated lattice (MD): the unique surviving path per token,
    re-indexed by morpheme position (md_to_origins_df analog,
    utils/yap.py:172-202 — the 1-based -> 0-based origin shift is where
    our edge_order already lives)."""
    return pruned.select(
        "doc_id",
        "word_index",
        F.col("edge_order").alias("morph_index"),
        F.col("form").alias("morpheme"),
    )
