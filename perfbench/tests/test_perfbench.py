"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The last two tests run the benchmark end to end (about a minute each).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, spans  # noqa: E402
from perfbench.run import result_line  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

TINY = gen.Traffic(
    n_docs=60, len_median=20, len_sigma=0.5, len_max=80,
    entity_share=0.2, pred_share=0.1, adj_share=0.05, morph_share=0.1,
    zipf_s=0.95, mirror_share=0.1, filler_vocab=300, delta_docs=10, n_deltas=2,
)


def tree_digest(path: str) -> str:
    """md5 over the relative names and bytes of every file under ``path``."""
    h = hashlib.md5()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


@pytest.mark.parametrize("as_pages", [False, True])
def test_generator_is_deterministic_and_seeded(tmp_path, as_pages):
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        out = tmp_path / str(i)
        gen.generate(str(out), seed, TINY, as_pages)
        digests.append(tree_digest(str(out)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_generator_traffic_dimensions():
    # multi-morpheme tokens are mostly entity terms too, so leave them out
    corpus = gen.Corpus(3, dataclasses.replace(TINY, n_docs=2000, mirror_share=0.0, morph_share=0.0))
    docs = corpus.documents(2000)
    toks = " ".join(docs["text"]).split(" ")
    ents = [t for t in toks if t in set(corpus.vocab[: corpus.offsets[1]])]
    assert abs(len(ents) / len(toks) - TINY.entity_share) < 0.02
    top = max(ents.count(e) for e in set(ents))
    assert top / len(ents) == pytest.approx(gen.zipf_probs(corpus.offsets[1], TINY.zipf_s)[0], abs=0.03)
    assert len(set(toks)) > 200  # the filler vocabulary is open
    assert docs["doc_id"] == list(range(2000))


def test_pages_extract_to_their_text():
    from hebrew_ner_spark.functions.extract import extract_text

    corpus = gen.Corpus(5, TINY)
    rows = gen.pages(corpus, corpus.documents(50))
    assert [extract_text(h.decode()) for h in rows["html"]] == rows["text"]


def span(i, start, end, parent=None):
    return spans.Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_union_of_children():
    tree = [
        span(0, 0.0, 10.0),
        span(1, 1.0, 3.0, 0),
        span(2, 2.0, 5.0, 0),  # overlaps span 1: cover is [1, 5]
        span(3, 7.0, 8.0, 0),
        span(4, 7.2, 7.8, 3),  # grandchild: counts against span 3 only
        span(5, 9.5, 12.0, 0),  # runs past its parent: clipped at 10
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert st[3] == pytest.approx(1.0 - 0.6)
    assert st[4] == pytest.approx(0.6)


def test_child_shares_of_a_span_name():
    tr = spans.Tracer("r", True)
    tr.spans = [
        spans.Span(0, "job", 0.0, 10.0, None, "r"),
        spans.Span(1, "a", 1.0, 3.0, 0, "r"),
        spans.Span(2, "b", 4.0, 5.0, 0, "r"),
        spans.Span(3, "a", 5.0, 6.0, 2, "r"),  # grandchild: not a share of job
        spans.Span(4, "job", 20.0, 30.0, None, "r"),
        spans.Span(5, "a", 20.0, 24.0, 4, "r"),
    ]
    assert tr.child_shares("job") == pytest.approx({"a": 0.3, "b": 0.05, "self": 0.65})
    assert tr.child_shares("missing") == {}


def test_tracer_nests_and_is_a_noop_when_disabled():
    tr = spans.Tracer("run-1", True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert (inner.name, inner.parent, outer.parent) == ("inner", outer.id, None)
    assert {s.run_id for s in tr.spans} == {"run-1"}
    off = spans.Tracer("run-2", False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_benchmark_json_names_and_bounds():
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.fullmatch(m["name"]) and UNIT.fullmatch(m["unit"]), m
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())


def test_result_line_requires_every_declared_metric():
    units = {"a.b_s": "s", "c": "count"}
    line = json.loads(result_line({"a.b_s": 1.5, "c": 3}, units, 4, 0))
    assert line == {
        "correct": True, "attempted": 4, "failed": 0,
        "metrics": {"a.b_s": {"value": 1.5, "unit": "s"}, "c": {"value": 3.0, "unit": "count"}},
    }
    with pytest.raises(KeyError):
        result_line({"a.b_s": 1.5}, units, 4, 0)


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_end_to_end_run_prints_every_declared_metric(trace, section):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][-1]["name"],
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC[section]}
