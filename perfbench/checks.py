"""Output checks that recompute each answer from the inputs in plain
Python/numpy, without calling the program under test.

Every check returns a list of problems; an empty list means the output
is correct. Each check runs outside the timed interval.
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np

# ---------------------------------------------------------------- KG job

_IMPORT = re.compile(r'^(?:import\s+"?(\w+)"?;?|require\s+"(\w+)"|const \w+ = require\("(\w+)"\);)$', re.M)
_DEFINE = re.compile(r"^(?:def|function|func|public int)\s+(\w+)", re.M)
_MENTION = re.compile(r"Created by (.+?) at (.+?) in (.+?)\.$", re.M)

# surface variants the corpus plants for the linker to connect
SAME_AS_PAIRS = [("Apache Spark", "Apache Spark Framework"), ("Ruby Core", "Ruby Core Team")]


def kg_expected_triples(files) -> set[tuple[str, str, str]]:
    """(repo, pred, obj) parsed from each file's source text: imports,
    definitions and the people/orgs/places named in its header comment."""
    out = set()
    for repo, content in files:
        for m in _IMPORT.finditer(content):
            out.add((repo, "imports", next(g for g in m.groups() if g)))
        for m in _DEFINE.finditer(content):
            out.add((repo, "defines", m.group(1)))
        for m in _MENTION.finditer(content):
            for name in m.groups():
                out.add((repo, "mentions", name))
    return out


def check_kg(triples, expected: set, sha_range, files_manifest: dict) -> list[str]:
    """triples: (subj, pred, obj) rows of the written `triples` table."""
    problems = []
    got = {(s, p, o) for s, p, o in triples if p != "same_as"}
    if got != expected:
        problems.append(
            f"kg triples: {len(got - expected)} unexpected, {len(expected - got)} missing"
        )
    canon = {s: o for s, p, o in triples if p == "same_as"}
    for a, b in SAME_AS_PAIRS:
        if canon.get(a, a) != canon.get(b, b):
            problems.append(f"kg same_as: {a!r} and {b!r} not linked")
    if list(files_manifest.get("sha256_range") or []) != list(sha_range):
        problems.append("kg files manifest: sha256 range differs from the input")
    return problems


# ------------------------------------------------------------ near-dups


def word_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    cnt = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i : i + n]) for i in range(cnt)}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def check_minhash_pairs(rows, texts: dict, planted, threshold: float = 0.2) -> list[str]:
    """rows: (a, b, jac). Every row's Jaccard is recomputed; every planted
    pair whose Jaccard is at least 0.9 must be present (MinHash with 8
    bands of 2 misses such a pair with probability below 1e-8)."""
    problems = []
    sh: dict[int, set] = {}

    def shingles(d):
        if d not in sh:
            sh[d] = word_shingles(texts[d])
        return sh[d]

    seen = set()
    for a, b, jac in rows:
        if not a < b or (a, b) in seen:
            problems.append(f"minhash: bad or repeated pair ({a}, {b})")
            continue
        seen.add((a, b))
        j = jaccard(shingles(a), shingles(b))
        if abs(round(j, 6) - jac) > 1.01e-6 or j < threshold:
            problems.append(f"minhash: pair ({a}, {b}) jac {jac} != {j:.6f}")
    missed = [p for p in planted if p not in seen and jaccard(shingles(p[0]), shingles(p[1])) >= 0.9]
    if missed:
        problems.append(f"minhash: {len(missed)} planted pairs missed, e.g. {missed[0]}")
    return problems[:20]


# ------------------------------------------------------------------ ANN


def check_knn(rows, vectors: dict, planted: dict, k: int = 5) -> list[str]:
    """rows: (query_id, neighbor_id, rank, cos_sim). Cosines are
    recomputed; ranks run 1..k by descending cosine; every planted near
    copy of a query is among its neighbours."""
    problems = []
    by_q = defaultdict(list)
    for q, n, r, c in rows:
        by_q[q].append((r, n, c))
    for q, want in planted.items():
        got = sorted(by_q.get(q, []))
        if [r for r, _, _ in got] != list(range(1, min(k, len(got)) + 1)) or len(got) != k:
            problems.append(f"knn: query {q} ranks {[r for r, _, _ in got]}")
            continue
        qv = vectors[q].astype(np.float64)
        prev = 2.0
        for r, n, c in got:
            nv = vectors[n].astype(np.float64)
            cos = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
            if abs(round(cos, 6) - c) > 1.01e-6 or c > prev + 1e-9:
                problems.append(f"knn: query {q} neighbour {n} cos {c} != {cos:.6f}")
            prev = c
        missing = set(want) - {n for _, n, _ in got}
        if missing:
            problems.append(f"knn: query {q} misses planted copies {sorted(missing)}")
    if set(by_q) != set(planted):
        problems.append("knn: query set differs")
    return problems


# ---------------------------------------------------------------- graph


def pagerank(edges, iterations: int, damping: float = 0.85, seeds=None) -> dict:
    """Power-method (personalised when `seeds` is given) PageRank with
    dangling mass sent to the teleport distribution."""
    nodes = sorted({x for e in edges for x in e} | set(seeds or ()))
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[d] for _, d in edges])
    od = np.bincount(src, minlength=n).astype(np.float64)
    if seeds:
        tele = np.zeros(n)
        tele[[idx[s] for s in seeds]] = 1.0 / len(set(seeds))
    else:
        tele = np.full(n, 1.0 / n)
    r = tele.copy()
    for _ in range(iterations):
        flow = np.bincount(dst, weights=r[src] / od[src], minlength=n)
        dangling = r[od == 0].sum()
        r = (1 - damping) * tele + damping * (flow + dangling * tele)
    return dict(zip(nodes, r))


def check_ranks(rows, want: dict, name: str) -> list[str]:
    got = dict(rows)
    if set(got) != set(want):
        return [f"{name}: node set differs ({len(got)} vs {len(want)})"]
    bad = [v for v in want if abs(round(want[v], 6) - got[v]) > 1.01e-6]
    return [f"{name}: {len(bad)} ranks differ, e.g. {bad[0]}"] if bad else []


def plane_weights(n_planes: int = 8, dim: int = 64) -> np.ndarray:
    return np.array(
        [[((i * 37 + j * 101) % 19) - 9 for j in range(dim)] for i in range(n_planes)],
        dtype=np.float64,
    )


def cc_edges(vectors: dict) -> list[tuple[int, int]]:
    """Chain edges between consecutive ids inside each 8-plane LSH bucket
    (the sign of each plane's dot product, summed left to right)."""
    ids = np.array(sorted(vectors), dtype=np.int64)
    v = np.stack([vectors[i] for i in ids]).astype(np.float64)
    w = plane_weights(8, v.shape[1])
    bucket = np.zeros(len(ids), dtype=np.int64)
    for i in range(w.shape[0]):
        acc = np.zeros(len(ids))
        for j in range(v.shape[1]):
            acc = acc + v[:, j] * w[i, j]
        bucket += (acc > 0).astype(np.int64) << i
    last: dict[int, int] = {}
    edges = []
    for i, b in zip(ids, bucket):
        if b in last:
            edges.append((last[b], int(i)))
        last[b] = int(i)
    return edges


def union_find(edges) -> dict:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_components(rows, edges) -> list[str]:
    """rows: (node, component). Same partition as a union-find over the
    edges, each component labelled by one of its own members."""
    got = dict(rows)
    want = union_find(edges)
    if set(got) != set(want):
        return [f"cc: node set differs ({len(got)} vs {len(want)})"]
    groups_got, groups_want = defaultdict(set), defaultdict(set)
    for v in want:
        groups_got[got[v]].add(v)
        groups_want[want[v]].add(v)
    if sorted(map(sorted, groups_got.values())) != sorted(map(sorted, groups_want.values())):
        return ["cc: partition differs from union-find"]
    if any(label not in members for label, members in groups_got.items()):
        return ["cc: a component label is not one of its members"]
    return []
