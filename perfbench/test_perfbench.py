"""Tests of the benchmark itself: seeded inputs are reproducible, and
every output check rejects a single corrupted row.

    python3 -m pytest perfbench -q      (from the repository root)
"""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import checks, inputs

SMALL = dict(docs=40, vecs=30, customers=50, suppliers=10, copies=3)


def test_proxy_same_seed_same_digest():
    a = inputs.digest_tables(inputs.proxy_tables(7, **SMALL))
    b = inputs.digest_tables(inputs.proxy_tables(7, **SMALL))
    assert a == b


def test_proxy_different_seed_different_digest():
    a = inputs.digest_tables(inputs.proxy_tables(7, **SMALL))
    b = inputs.digest_tables(inputs.proxy_tables(8, **SMALL))
    assert a != b


def test_org_surfaces_seeded_and_distinct():
    words = ["Apache", "Spark", "Ruby", "Core", "Team"]
    a = inputs.org_surfaces(3, 200, words)
    assert a == inputs.org_surfaces(3, 200, words)
    assert inputs.digest_rows([(s,) for s in a]) != inputs.digest_rows(
        [(s,) for s in inputs.org_surfaces(4, 200, words)]
    )
    assert len(set(a)) == 200
    assert all(2 <= len(s.split()) <= 4 for s in a)


# ------------------------------------------------------------------ KG

FILES = [
    ("org1/repo1", 'import json\nimport httpx\n\n# Created by Ada at Google in Tokyo.\n'
                   "def parse_1():\n    return 1\n"),
    ("org2/repo2", 'const a = require("zlibx");\n\n// Created by Linus at Apache Spark in Paris.\n'
                   "function merge_7() { return 1; }\n"),
]


def _kg_rows():
    rows = sorted(checks.kg_expected_triples(FILES))
    rows += [("Apache Spark Framework", "same_as", "Apache Spark"),
             ("Ruby Core Team", "same_as", "Ruby Core")]
    return rows


def test_kg_expected_triples_parse():
    exp = checks.kg_expected_triples(FILES)
    assert ("org1/repo1", "imports", "httpx") in exp
    assert ("org2/repo2", "imports", "zlibx") in exp
    assert ("org2/repo2", "defines", "merge_7") in exp
    assert ("org2/repo2", "mentions", "Apache Spark") in exp
    assert len(exp) == 11


def test_check_kg_accepts_and_rejects_one_corrupted_row():
    exp = checks.kg_expected_triples(FILES)
    manifest = {"sha256_range": ["a", "b"]}
    rows = _kg_rows()
    assert checks.check_kg(rows, exp, ["a", "b"], manifest) == []
    bad = list(rows)
    bad[0] = (bad[0][0], bad[0][1], bad[0][2] + "x")
    assert checks.check_kg(bad, exp, ["a", "b"], manifest)
    unlinked = [r for r in rows if r[0] != "Ruby Core Team"]
    assert checks.check_kg(unlinked, exp, ["a", "b"], manifest)
    assert checks.check_kg(rows, exp, ["a", "c"], manifest)


# ------------------------------------------------------------- MinHash


def _minhash_case():
    tables = inputs.proxy_tables(1, **SMALL)
    docs = tables["documents"]
    texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    planted = inputs.planted_doc_pairs(tables, SMALL["copies"])
    rows = []
    for a, b in planted:
        j = checks.jaccard(checks.word_shingles(texts[a]), checks.word_shingles(texts[b]))
        rows.append((a, b, round(j, 6)))
    return rows, texts, planted


def test_check_minhash_accepts_and_rejects_one_corrupted_row():
    rows, texts, planted = _minhash_case()
    assert checks.check_minhash_pairs(rows, texts, planted) == []
    bad = list(rows)
    bad[3] = (bad[3][0], bad[3][1], bad[3][2] - 0.01)
    assert checks.check_minhash_pairs(bad, texts, planted)
    assert checks.check_minhash_pairs(rows[1:], texts, planted)


def test_word_shingles_short_text():
    assert checks.word_shingles("a b") == {"a b"}
    assert checks.word_shingles("a b c d") == {"a b c", "b c d"}


# ------------------------------------------------------------------ ANN


def test_check_knn_accepts_and_rejects_one_corrupted_row():
    tables = inputs.proxy_tables(1, **SMALL)
    emb = tables["embeddings"]
    vectors = {i: np.asarray(v, dtype=np.float32)
               for i, v in zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist())}
    planted = {q: [q + c * inputs.STRIDE for c in range(1, SMALL["copies"])] for q in range(3)}
    rows = []
    ids = sorted(vectors)
    mat = np.stack([vectors[i] for i in ids]).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    for q in planted:
        sims = mat @ mat[ids.index(q)]
        order = np.argsort(-sims)[:5]
        rows += [(q, ids[j], r + 1, round(float(sims[j]), 6)) for r, j in enumerate(order)]
    assert checks.check_knn(rows, vectors, planted) == []
    bad = list(rows)
    bad[1] = (bad[1][0], bad[1][1], bad[1][2], bad[1][3] + 0.01)
    assert checks.check_knn(bad, vectors, planted)


# ---------------------------------------------------------------- graph

EDGES = [("c:1", "n:0"), ("c:2", "n:0"), ("c:3", "n:1"), ("n:0", "r:0"), ("n:1", "r:1")]


def test_pagerank_mass_is_conserved():
    pr = checks.pagerank(EDGES, 5)
    assert sum(pr.values()) == pytest.approx(1.0)
    ppr = checks.pagerank([(d, s) for s, d in EDGES], 4, seeds=["r:0"])
    assert sum(ppr.values()) == pytest.approx(1.0)
    assert ppr["c:3"] == 0.0 and ppr["r:1"] == 0.0


def test_check_ranks_accepts_and_rejects_one_corrupted_row():
    want = checks.pagerank(EDGES, 5)
    rows = [(v, round(r, 6)) for v, r in want.items()]
    assert checks.check_ranks(rows, want, "pr") == []
    bad = list(rows)
    bad[2] = (bad[2][0], bad[2][1] + 1e-5)
    assert checks.check_ranks(bad, want, "pr")


def test_check_components_accepts_and_rejects_one_corrupted_row():
    edges = [(1, 2), (2, 3), (5, 6)]
    rows = [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]
    assert checks.check_components(rows, edges) == []
    assert checks.check_components([(1, 1), (2, 1), (3, 5), (5, 5), (6, 5)], edges)
    assert checks.check_components([(1, 4), (2, 4), (3, 4), (5, 5), (6, 5)], edges)


def test_cc_edges_chain_within_buckets():
    vecs = {i: np.full(64, 1.0 if i < 3 else -1.0, dtype=np.float32) for i in range(5)}
    assert checks.cc_edges(vecs) == [(0, 1), (1, 2), (3, 4)]
