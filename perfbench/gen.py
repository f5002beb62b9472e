"""Seeded, single-process input generator for the benchmark workloads.

Everything is drawn from one ``numpy.random.Generator`` seeded by
``--seed``, and written with pyarrow in a fixed layout, so the same seed
and traffic give byte-identical parquet. The program under test never sees
the generator: it only reads the files back through
``sources.catalog.load_table``.

Tokens come from five classes. Entity, predicate and adjective tokens are
the program's closed gazetteers (``resources``); multi-morpheme tokens are
the keys of ``resources.MORPH_SPLITS``; filler tokens come from an open
vocabulary of made-up words. The vocabulary must stay open: a closed
30-word vocabulary saturates the shingle space and turns exact near-dup
joins quadratic.
"""

from __future__ import annotations

import dataclasses
import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hebrew_ner_spark.resources import (
    ADJECTIVE_TERMS,
    ENTITY_TERMS,
    MORPH_SPLITS,
    PREDICATE_TERMS,
)

LANGS = ["he", "en", "ar", "ru"]
LANG_WEIGHTS = [0.55, 0.25, 0.1, 0.1]
HOSTS = ["news.example.il", "forum.example.org", "wiki.example.net", "shop.example.com"]
PARA_TOKENS = 40  # tokens per <p> block of a generated page
FILES_PER_TABLE = 8  # part files per table: enough scan splits for local[4]


@dataclasses.dataclass(frozen=True)
class Traffic:
    """The input properties a workload fixes (the traffic dimensions)."""

    n_docs: int
    len_median: int  # document length in tokens: lognormal median ...
    len_sigma: float  # ... and log-space spread
    len_max: int
    entity_share: float  # share of token slots holding an entity term
    pred_share: float  # ... a predicate term
    adj_share: float  # ... an adjective term
    morph_share: float  # ... a multi-morpheme token (MORPH_SPLITS key)
    zipf_s: float  # Zipf exponent of entity choice
    mirror_share: float  # share of pages that are near-copies of another
    filler_vocab: int  # open filler vocabulary size
    delta_docs: int = 0  # documents per delta file (delta_ingest only)
    n_deltas: int = 0


def filler_words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase made-up words, none of them a gazetteer term."""
    reserved = set(ENTITY_TERMS) | set(PREDICATE_TERMS) | set(ADJECTIVE_TERMS)
    reserved |= set(MORPH_SPLITS) | {"a", "the", "dup"}
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(3, 10, size=n)
        for ln in lens:
            w = "".join(rng.choice(letters, size=int(ln)))
            if w not in seen and w not in reserved:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


class Corpus:
    """Token streams for one seed and traffic; documents are made on demand."""

    def __init__(self, seed: int, traffic: Traffic):
        self.t = traffic
        self.rng = np.random.default_rng(seed)
        rng = self.rng
        ents = list(ENTITY_TERMS)
        rng.shuffle(ents)  # which entity is the mega-entity depends on the seed
        self.vocab = np.array(
            ents
            + list(PREDICATE_TERMS)
            + list(ADJECTIVE_TERMS)
            + list(MORPH_SPLITS)
            + filler_words(rng, traffic.filler_vocab),
            dtype=object,
        )
        n_e, n_p, n_a, n_m = len(ents), len(PREDICATE_TERMS), len(ADJECTIVE_TERMS), len(MORPH_SPLITS)
        self.offsets = np.cumsum([0, n_e, n_p, n_a, n_m])
        self.class_p = np.array(
            [traffic.entity_share, traffic.pred_share, traffic.adj_share, traffic.morph_share]
        )
        self.class_p = np.append(self.class_p, 1.0 - self.class_p.sum())
        if self.class_p[-1] < 0:
            raise ValueError("token class shares add up to more than 1")
        self.ent_p = zipf_probs(n_e, traffic.zipf_s)
        self.filler_p = zipf_probs(traffic.filler_vocab, 1.0)
        self.next_id = 0

    def _tokens(self, n: int) -> np.ndarray:
        """``n`` vocabulary indices drawn by class, then within the class."""
        rng, o = self.rng, self.offsets
        cls = rng.choice(5, size=n, p=self.class_p)
        out = np.empty(n, dtype=np.int64)
        draws = [
            lambda k: rng.choice(o[1], size=k, p=self.ent_p),
            lambda k: o[1] + rng.integers(0, o[2] - o[1], size=k),
            lambda k: o[2] + rng.integers(0, o[3] - o[2], size=k),
            lambda k: o[3] + rng.integers(0, o[4] - o[3], size=k),
            lambda k: o[4] + rng.choice(self.t.filler_vocab, size=k, p=self.filler_p),
        ]
        for c, draw in enumerate(draws):
            idx = np.flatnonzero(cls == c)
            out[idx] = draw(len(idx))
        return out

    def documents(self, n: int) -> dict[str, list]:
        """``n`` new documents. Lengths are the lognormal's n quantiles in a
        seeded order, and exactly round(n * mirror_share) of them are
        near-copies (3% of tokens replaced) of an original of the same
        batch, so every seed gives the same amount of work."""
        t, rng = self.t, self.rng
        q = (np.arange(n) + 0.5) / n
        z = np.array([NormalDist().inv_cdf(x) for x in q])
        lens = np.clip(np.round(t.len_median * np.exp(t.len_sigma * z)), 3, t.len_max)
        lens = rng.permutation(lens.astype(np.int64))
        flat = self._tokens(int(lens.sum()))
        ends = np.cumsum(lens)
        docs = [flat[e - ln : e] for e, ln in zip(ends, lens)]
        n_mirror = int(round(n * t.mirror_share))
        order = rng.permutation(n)
        originals, mirrors = order[: n - n_mirror], order[n - n_mirror :]
        for i in mirrors:
            src = docs[int(rng.choice(originals))].copy()
            edits = rng.random(len(src)) < 0.03
            src[edits] = self._tokens(int(edits.sum()))
            docs[i] = src
        texts = [" ".join(self.vocab[d]) for d in docs]
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        lang_idx = rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)
        return {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in lang_idx],
            "source": [f"src{int(s)}" for s in rng.integers(0, 64, size=n)],
            "n_chars": [len(x) for x in texts],
        }


def page_html(text: str, boiler: int) -> str:
    """A Common-Crawl-style page whose only visible text is ``text``:
    boilerplate lives in script, style and comments, and the body is split
    into ``<p>`` blocks that extraction joins back with single spaces."""
    words = text.split(" ")
    paras = "".join(
        "<p>" + " ".join(words[i : i + PARA_TOKENS]) + "</p>"
        for i in range(0, len(words), PARA_TOKENS)
    )
    script = "var q = [" + ",".join(str(i) for i in range(boiler)) + "]; if (q.length < 2) { q = []; }"
    return (
        "<html><head><script type=\"text/javascript\">" + script + "</script>"
        "<style>p { margin: 0; } div.nav { display: none; }</style></head><body>"
        "<!-- nav: home | news | about -->\n<div class=\"main\">" + paras + "</div>"
        "<!-- footer -->\n</body></html>"
    )


def pages(corpus: Corpus, docs: dict[str, list]) -> dict[str, list]:
    """(url, warc_ts, html, text, lang) rows for generated documents."""
    rng = corpus.rng
    n = len(docs["doc_id"])
    hosts = rng.integers(0, len(HOSTS), size=n)
    boiler = rng.integers(20, 200, size=n)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    jitter = rng.integers(0, 3_600_000_000, size=n)
    return {
        "url": [
            f"https://{HOSTS[h]}/{lang}/doc/{i}"
            for h, lang, i in zip(hosts, docs["lang"], docs["doc_id"])
        ],
        "warc_ts": base + np.array(docs["doc_id"], dtype=np.int64) * 1_000_000 + jitter,
        "html": [page_html(t, int(b)).encode("utf-8") for t, b in zip(docs["text"], boiler)],
        "text": docs["text"],
        "lang": docs["lang"],
    }


DOCS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int64())]
)
PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
     ("text", pa.string()), ("lang", pa.string())]
)


def write_table(cols: dict[str, list], schema: pa.Schema, path: str, files: int = FILES_PER_TABLE) -> None:
    """Write ``cols`` as ``path`` (a directory of ``files`` parquet parts,
    or one file when ``files`` is 1) in a byte-stable layout."""
    table = pa.table(cols, schema=schema)
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(files):
        lo, hi = n * f // files, n * (f + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{f:05d}.parquet"))


def generate(out_dir: str, seed: int, traffic: Traffic, as_pages: bool) -> dict:
    """Write one workload's inputs under ``out_dir``; returns what it wrote.

    ``pages.parquet`` (crawl pages) or ``documents.parquet`` holds the main
    corpus; with ``traffic.n_deltas`` the delta files that land one by one
    go to ``deltas/delta_<i>.parquet``, with doc ids after the base corpus.
    """
    corpus = Corpus(seed, traffic)
    os.makedirs(out_dir, exist_ok=True)
    docs = corpus.documents(traffic.n_docs)
    if as_pages:
        write_table(pages(corpus, docs), PAGES_SCHEMA, os.path.join(out_dir, "pages.parquet"))
    else:
        write_table(docs, DOCS_SCHEMA, os.path.join(out_dir, "documents.parquet"))
    deltas = []
    if traffic.n_deltas:
        os.makedirs(os.path.join(out_dir, "deltas"), exist_ok=True)
        for i in range(traffic.n_deltas):
            p = os.path.join(out_dir, "deltas", f"delta_{i:05d}.parquet")
            write_table(corpus.documents(traffic.delta_docs), DOCS_SCHEMA, p, files=1)
            deltas.append(p)
    return {"n_docs": traffic.n_docs, "deltas": deltas}

