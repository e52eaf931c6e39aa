"""The near-duplicate and similarity primitives, built once.

`operators/llm.py` spells each primitive in one helper: the word-3-shingle
set (`_shingle_sets`), the exact shingle-Jaccard join (`_jaccard_pairs`),
the Kirsch–Mitzenmacher MinHash bases (`_km_bases`) and the embedding
norm of the exact-cosine pairs (`_emb_norm`). These tests keep it that
way:

  * `_jaccard_pairs` returns exactly the brute-force Jaccard pairs, with
    and without probe sampling, including subset pairs sitting exactly
    on the threshold (the size filter must keep them);
  * the size filter is exact in doubles for the thresholds in use;
  * no other package function re-spells a primitive.
"""

from __future__ import annotations

import ast
import itertools
import os
import random

import numpy as np
import pyspark.sql.functions as F

import morphl_model_publishers_churning_users_spark as pkg
from morphl_model_publishers_churning_users_spark.operators._shared import ckpt
from morphl_model_publishers_churning_users_spark.operators.llm import (
    _jaccard_pairs,
    _shingle_sets,
)

PKG_DIR = os.path.dirname(pkg.__file__)


def _corpus():
    """{doc_id: text}: random docs over a 6-word vocabulary (many shared
    shingles, varied Jaccard), short docs with no shingle, and subset
    pairs whose Jaccard is exactly 0.2 or 0.4."""
    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e", "f"]
    docs = {i: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))) for i in range(60)}
    docs[60] = "x"
    docs[61] = "  x y  "

    def words(prefix, n):
        return " ".join(f"{prefix}{k}" for k in range(n))

    # A ⊂ B with |A| shingles = n_a and |B| = n_b: A's words are a prefix
    # of B's, and a text of n words has n - 2 shingles.
    for doc_a, doc_b, n_a, n_b, prefix in (
        (63, 64, 1, 5, "p"),  # J = 0.2, probe × non-probe
        (100, 101, 1, 5, "q"),  # J = 0.2, neither endpoint a probe
        (66, 69, 2, 5, "r"),  # J = 0.4, two probes
        (70, 72, 20, 100, "s"),  # J = 0.2
        (73, 75, 40, 100, "u"),  # J = 0.4
        (77, 78, 1, 6, "v"),  # J = 1/6, below both thresholds
    ):
        docs[doc_a] = words(prefix, n_a + 2)
        docs[doc_b] = "  " + words(prefix, n_b + 2) + " "
    return docs


def _shingles(text):
    w = text.split()
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def _brute(docs, min_sim, probe_mod):
    sets = {d: _shingles(x) for d, x in docs.items()}
    out = set()
    for a, b in itertools.combinations(sorted(d for d in sets if sets[d]), 2):
        if a % probe_mod and b % probe_mod:
            continue
        m = len(sets[a] & sets[b])
        jac = m / (len(sets[a]) + len(sets[b]) - m)
        if jac >= min_sim:
            out.add((a, b, jac))
    return out


def test_jaccard_pairs_match_brute_force(spark):
    docs = _corpus()
    df = spark.createDataFrame(sorted(docs.items()), "doc_id bigint, text string")
    sets = ckpt(_shingle_sets(df, F.trim("text")))
    assert {r["doc_id"]: (set(r["sarr"]), r["sz"]) for r in sets.collect()} == {
        d: (_shingles(x), len(_shingles(x))) for d, x in docs.items() if _shingles(x)
    }
    for min_sim in (0.2, 0.4):
        for probe_mod in (1, 3):
            got = {tuple(r) for r in _jaccard_pairs(sets, min_sim, probe_mod).collect()}
            want = _brute(docs, min_sim, probe_mod)
            assert got == want, (min_sim, probe_mod)
            edges = {(63, 64), (66, 69), (70, 72), (73, 75)}
            if probe_mod == 1:
                edges.add((100, 101))
            kept = edges if min_sim == 0.2 else {(66, 69), (73, 75)}
            assert kept <= {(a, b) for a, b, _ in got}, (min_sim, probe_mod)
            assert (77, 78) not in {(a, b) for a, b, _ in got}


def test_size_filter_is_exact_in_doubles():
    """J = m/(|A|+|B|−m) ≤ min/max, and correctly rounded division is
    monotone, so a kept pair has fl(min/max) ≥ t; the size filter
    `min ≥ max·t` must then hold in doubles too, for every size pair the
    corpora produce (≤ 2000 shingles) and every threshold in use."""
    big = np.arange(1, 2001, dtype=np.float64)[:, None]
    small = np.arange(0, 2001, dtype=np.float64)[None, :]
    valid = small <= big
    for t in (0.2, 0.4, 0.8):
        reaches = valid & (small / big >= t)
        assert not np.any(reaches & ~(small >= big * t)), t


def _owners(tree):
    """{id(node): enclosing function name} over function BODIES only, so
    an oracle SQL string in a decorator is not attributed to the op."""
    owner = {}

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                for sub in child.body:
                    owner[id(sub)] = child.name
                    walk(sub, child.name)
                continue
            owner[id(child)] = fn
            walk(child, fn)

    walk(tree, None)
    return owner


def _spelled_in(match):
    """Names of the package functions with a node for which ``match`` holds."""
    names = set()
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in files:
            if not name.endswith(".py"):
                continue
            with open(os.path.join(root, name)) as f:
                tree = ast.parse(f.read())
            owner = _owners(tree)
            for node in ast.walk(tree):
                if match(node) and owner.get(id(node)):
                    names.add(owner[id(node)])
    return names


def test_each_primitive_has_one_spelling():
    shingle = _spelled_in(lambda n: isinstance(n, ast.Name) and n.id == "_NGRAM_SH_SPARK")
    km = _spelled_in(
        lambda n: isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "conv(substr(md5(s), 1, 13)" in n.value
    )
    norm = _spelled_in(
        lambda n: isinstance(n, ast.Call)
        and ast.unparse(n) == "_NORM.format(c='embedding')"
    )
    assert shingle == {"_shingle_sets"}, shingle
    assert km == {"_km_bases"}, km
    assert norm == {"_emb_norm"}, norm
