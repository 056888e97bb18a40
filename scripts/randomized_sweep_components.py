"""Randomized connected-components sweep against a python union-find
reference (r9 verdict directive #6): thousands of seeded graphs across
the shapes that stress different parts of the star-round algorithm —
chains (round-count depth), stars (already-forest fixpoints), cliques
(large per-round shrink, the final-round convergence edge), clustered
blocks (dense intra-cluster + sparse bridges — the regime
``local_contraction`` targets), plus random noise, duplicate/reversed
edges and self-loops.

Batching: per-seed node ids are namespaced (id = seed * 10_000 + n) so a
whole chunk of seeds unions into ONE Spark job; components cannot cross
seeds. Each chunk randomizes the execution path: the driver-side
union-find fast path (small_graph_edges default), the distributed star
rounds (small_graph_edges=None), and star rounds with
local_contraction=True — all three must agree with the reference.

Usage: python scripts/randomized_sweep_components.py [n_chunks]
    [seeds_per_chunk] [base_seed]
Defaults: 10 chunks x 50 seeds from base 0. Prints one summary line;
non-zero exit on any mismatch.
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_olap_spark.session import get_spark  # noqa: E402


def _union_find(edges):
    """Independent reference: path-halving union-find, min-id roots."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue
        for n in (u, v):
            if n not in parent:
                parent[n] = n
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    # canonicalize: root = min member of the component
    comp: dict = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        root = min(members)
        for n in members:
            out[n] = root
    return out


def _gen_graph(rnd: random.Random, seed: int):
    """Edge list for one seed, node ids namespaced to the seed."""
    base = seed * 10_000
    nid = [0]

    def fresh(k):
        ids = [base + nid[0] + i for i in range(k)]
        nid[0] += k
        return ids

    edges = []
    for _ in range(rnd.randrange(1, 5)):
        shape = rnd.choice(["chain", "star", "clique", "clustered",
                            "random", "isolated_pair"])
        if shape == "chain":
            ids = fresh(rnd.randrange(2, 60))
            edges += list(zip(ids, ids[1:]))
        elif shape == "star":
            ids = fresh(rnd.randrange(3, 40))
            hub = rnd.choice(ids)
            edges += [(hub, i) for i in ids if i != hub]
        elif shape == "clique":
            ids = fresh(rnd.randrange(3, 12))
            edges += [(a, b) for i, a in enumerate(ids)
                      for b in ids[i + 1:]]
        elif shape == "clustered":
            # dense blocks + sparse bridges chaining some of them
            blocks = [fresh(rnd.randrange(3, 9))
                      for _ in range(rnd.randrange(2, 5))]
            for blk in blocks:
                for i, a in enumerate(blk):
                    for b in blk[i + 1:]:
                        if rnd.random() < 0.7:
                            edges.append((a, b))
                edges.append((blk[0], blk[-1]))  # keep block connected
            for x, y in zip(blocks, blocks[1:]):
                if rnd.random() < 0.6:
                    edges.append((rnd.choice(x), rnd.choice(y)))
        elif shape == "random":
            ids = fresh(rnd.randrange(4, 30))
            for _ in range(rnd.randrange(2, 40)):
                edges.append((rnd.choice(ids), rnd.choice(ids)))
        else:  # isolated pair
            a, b = fresh(2)
            edges.append((a, b))
    # noise: duplicates, reversals, self-loops
    for _ in range(rnd.randrange(0, 6)):
        if edges and rnd.random() < 0.7:
            u, v = rnd.choice(edges)
            edges.append((v, u) if rnd.random() < 0.5 else (u, v))
        else:
            n = base + rnd.randrange(max(nid[0], 1))
            edges.append((n, n))
    return edges


def run_chunk(spark, chunk: int, seeds, rnd_master: random.Random) -> list:
    from realtime_olap_spark.operators.components import connected_components

    mode = rnd_master.choice(["small", "distributed", "contracted"])
    edges = []
    for seed in seeds:
        edges += _gen_graph(random.Random(seed), seed)
    want = _union_find(edges)
    # the operator omits roots (they map to themselves) — fold them in
    df = spark.createDataFrame(edges, "src long, dst long")
    kw = ({} if mode == "small"
          else {"small_graph_edges": None}
          if mode == "distributed"
          else {"small_graph_edges": None, "local_contraction": True})
    got = {int(r["node"]): int(r["component"])
           for r in connected_components(df, **kw).collect()}
    for root in set(want.values()):
        got.setdefault(root, root)
    if got != want:
        diff = [(n, got.get(n), want.get(n))
                for n in set(got) | set(want) if got.get(n) != want.get(n)]
        return [(chunk, mode, len(edges), diff[:5])]
    return []


def main() -> None:
    from scripts._argv import parse_int_args
    n_chunks, per, base = parse_int_args(
        __doc__, [("n_chunks", 10, 10_000), ("per_chunk", 50, 10_000),
                  ("base_seed", 0)])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    fails = []
    for c in range(n_chunks):
        seeds = range(base + c * per, base + (c + 1) * per)
        fails += run_chunk(spark, c, seeds, random.Random(base + c))
        print(f"chunk {c}: seeds {seeds.start}-{seeds.stop - 1} "
              f"{'OK' if not fails else 'FAIL'}", flush=True)
        if fails:
            break
    print(f"CC SWEEP {'CLEAN' if not fails else 'FAILED'}: "
          f"{n_chunks * per} seeds from {base}")
    for f in fails:
        print("  ", f)
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
