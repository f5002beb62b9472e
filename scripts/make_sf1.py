"""Build a deterministic sf1 warehouse (10x sf0.1) for the
data-proportionality bench (VERDICT r3 #1).

/root/testdata is read-only and ships no sf1, so the 10x corpus is
derived from sf0.1 by replication under the repo's own .benchdata/
(gitignored). The construction is chosen so every query family sees a
FAITHFUL 10x of its own problem, not a degenerate one:

* Keys shift by a per-replica offset (orderkey/custkey/partkey/suppkey/
  doc_id/event_id/user_id/vec_id), preserving every foreign-key join
  1:1 per replica. Order-key offsets keep max(o_orderkey) < 10M — the
  synth_order_changes insert-offset contract stays honored.
* Document text in replica k is rewritten by a WITHIN-CLASS vocabulary
  permutation (entities -> entities, predicates -> predicates,
  adjectives -> adjectives, seeded by k; k=0 is identity). The corpus
  vocabulary is a closed 31-word set, so this is the only construction
  that simultaneously (a) preserves per-doc KG pattern structure
  exactly (class sequences are untouched -> same triple counts per
  doc), (b) preserves within-replica near-dup/shingle structure
  exactly (a token bijection induces a shingle bijection), and
  (c) kills cross-replica shingle similarity (different bijections
  agree only on a permutation's few fixed points) — so dedup families
  scale by cluster COUNT, not by cluster size, exactly like a real 10x
  crawl. n_chars is recomputed from the rewritten text.
* Embeddings get a tiny deterministic per-row epsilon so replicated
  points are not bitwise-coincident (ANN top-k stays tie-free).
* Event/order timestamps keep the original range: a 10x corpus over
  the same crawl window means 10x rows per hour, which is what the
  windowed/stateful operators should be fed.

Run: python scripts/make_sf1.py [src_sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine from PYTHONPATH, not from sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

REPLICAS = 10
O_OFF = 800_000      # max sf0.1 o_orderkey ~600k; 10 replicas stay < 10M
C_OFF = 40_000
P_OFF = 40_000
S_OFF = 2_000
D_OFF = 10_000
E_OFF = 300_000
U_OFF = 10_000
V_OFF = 10_000


def _class_perm(terms: list[str], k: int) -> dict[str, str]:
    """Deterministic permutation of a term class for replica k (k=0
    identity)."""
    if k == 0:
        return {t: t for t in terms}
    rng = random.Random(10_007 * k + len(terms))
    shuffled = list(terms)
    rng.shuffle(shuffled)
    return dict(zip(terms, shuffled))


def _vocab_map(k: int) -> dict[str, str]:
    from hebrew_ner_spark.resources import (
        ADJECTIVE_TERMS,
        ENTITY_TERMS,
        PREDICATE_TERMS,
    )

    m: dict[str, str] = {}
    for cls in (ENTITY_TERMS, PREDICATE_TERMS, ADJECTIVE_TERMS):
        m.update(_class_perm(sorted(cls), k))
    return m


def build(src: str, out: str) -> None:
    from pyspark.sql import functions as F

    from hebrew_ner_spark.session import get_spark

    spark = get_spark("make-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)

    def write(df, name):
        df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
        print(f"{name}: {spark.read.parquet(os.path.join(out, name + '.parquet')).count()} rows", flush=True)

    rd = lambda t: spark.read.parquet(os.path.join(src, f"{t}.parquet"))  # noqa: E731

    # dims: fixed domains, copied as-is
    for t in ("region", "nation"):
        write(rd(t), t)

    def replicate(t, shifts, extra=None):
        base = rd(t)
        parts = []
        for k in range(REPLICAS):
            df = base
            for col, off in shifts.items():
                df = df.withColumn(col, (F.col(col) + k * off).cast("long"))
            if extra is not None:
                df = extra(df, k)
            parts.append(df)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        write(u, t)

    replicate("customer", {"c_custkey": C_OFF})
    replicate("supplier", {"s_suppkey": S_OFF})
    replicate("part", {"p_partkey": P_OFF})
    replicate("orders", {"o_orderkey": O_OFF, "o_custkey": C_OFF})
    replicate(
        "lineitem",
        {"l_orderkey": O_OFF, "l_partkey": P_OFF, "l_suppkey": S_OFF},
    )
    replicate("events", {"event_id": E_OFF, "user_id": U_OFF})

    def rewrite_text(df, k):
        vm = _vocab_map(k)
        m = F.create_map(*[F.lit(x) for kv in vm.items() for x in kv])
        txt = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.coalesce(m[t], t),
            ),
            " ",
        )
        return df.withColumn("text", txt).withColumn(
            "n_chars", F.length("text").cast("long")
        )

    replicate("documents", {"doc_id": D_OFF}, extra=rewrite_text)

    def perturb(df, k):
        eps = ((F.col("vec_id") % 97) - 48).cast("double") * 1e-4
        return df.withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x + eps)
        )

    replicate("embeddings", {"vec_id": V_OFF}, extra=perturb)
    spark.stop()


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, ".benchdata", "sf1")
    build(src, out)
