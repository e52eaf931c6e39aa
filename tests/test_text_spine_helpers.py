"""The text primitives, spelled once.

Every dedup, similarity and text-analysis operator starts from one text
policy, and ``operators/_shared`` spells each part of it in one function:
the normalization (``norm_text``), the whitespace tokenizer (``words``),
the exact-dedup key (``content_hash``) and the non-empty corpus
(``docs``); ``operators/llm._bigrams`` is the string bigram window. These
tests keep it that way:

  * each helper builds exactly the expression its docstring shows;
  * on hand-built texts (leading, trailing and repeated spaces, tabs, an
    empty and a blank text) the helpers match a Python replay. ``trim``
    strips spaces only, in Spark as in DuckDB, so a tab at either end
    survives it and splits off an empty token;
  * ``_bigrams`` yields the Python pairs;
  * no package function re-spells one of the primitives. The single-space
    tokenizer (``split(trim(text), ' ')``) is a different semantics with
    its own oracle twin, and is not one of them.
"""

from __future__ import annotations

import ast
import hashlib
import os
import re

import morphl_model_publishers_churning_users_spark as pkg
import morphl_model_publishers_churning_users_spark.operators._shared as shared
from morphl_model_publishers_churning_users_spark.operators._shared import (
    content_hash,
    docs,
    norm_text,
    words,
)
from morphl_model_publishers_churning_users_spark.operators.llm import _bigrams

PKG_DIR = os.path.dirname(pkg.__file__)

TEXTS = [
    "The quick  brown Fox",
    "  leading and trailing   ",
    "tabs\tinside\t\tthe text",
    "\tedge tabs\t",
    "",
    "   ",
    "\t ",
    "ONE",
    "the quick brown fox",
    "The Quick Brown Fox  ",
]


def _doc(s: str) -> str:
    return " ".join(s.split())


def test_each_helper_builds_the_expression_its_docstring_shows(spark, sf_dir):
    cases = [
        (norm_text, norm_text(), "lower(trim(text))", "lower(trim(text))"),
        (words, words(), "split(trim(text), '\\\\s+', -1)", "split(text, '\\s+')"),
        (words, words(norm_text()), "split(lower(trim(text)), '\\\\s+', -1)", "words(norm_text())"),
        (content_hash, content_hash(), "md5(lower(trim(text)))", "md5(lower(trim(text)))"),
        (
            _bigrams,
            _bigrams(),
            "transform(sequence(1, size(w) - 1),"
            " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))",
            "transform(sequence(1, size(w) - 1), i -> concat_ws(' ',"
            " element_at(w, i), element_at(w, i + 1)))",
        ),
    ]
    for helper, col, built, shown in cases:
        assert col._jc.toString() == built
        assert shown in _doc(helper.__doc__), helper.__name__
    cond = docs(spark, sf_dir)._jdf.queryExecution().analyzed().condition().sql()
    assert cond == "(length(trim(text)) > 0)"
    assert "length(trim(text)) > 0" in _doc(docs.__doc__)


def test_helpers_match_a_python_replay(spark, monkeypatch):
    frame = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id int, text string")
    monkeypatch.setattr(shared, "t", lambda _spark, _sf_dir, _name: frame)
    got = {
        r["doc_id"]: (r["w"], r["h"])
        for r in docs(spark, None)
        .select("doc_id", words(norm_text()).alias("w"), content_hash().alias("h"))
        .collect()
    }
    want = {
        i: (
            re.split(r"\s+", s.strip(" ").lower()),
            hashlib.md5(s.strip(" ").lower().encode()).hexdigest(),
        )
        for i, s in enumerate(TEXTS)
        if len(s.strip(" ")) > 0
    }
    assert got == want
    assert {4, 5} == set(range(len(TEXTS))) - set(got)  # the empty and the blank text
    assert got[3][0] == ["", "edge", "tabs", ""]
    assert got[8][1] == got[9][1] != got[0][1]  # case and ends, not inner spaces
    trimmed = frame.select("doc_id", words().alias("w")).collect()
    assert {r["doc_id"]: r["w"] for r in trimmed} == {
        i: re.split(r"\s+", s.strip(" ")) for i, s in enumerate(TEXTS)
    }


def test_bigrams_are_the_python_pairs(spark):
    arrays = [["a", "b"], ["the", "quick", "brown", "fox"], ["x", "x", "x"], ["", "edge", ""]]
    frame = spark.createDataFrame([(i, w) for i, w in enumerate(arrays)], "i int, w array<string>")
    got = {r["i"]: r["bg"] for r in frame.select("i", _bigrams().alias("bg")).collect()}
    assert got == {i: [f"{a} {b}" for a, b in zip(w, w[1:])] for i, w in enumerate(arrays)}


def _owners(tree):
    """{id(node): enclosing top-level function name} over function BODIES
    only, so an oracle SQL string in a decorator is not attributed."""
    owner = {}

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                for sub in child.body:
                    owner[id(sub)] = fn or child.name
                    walk(sub, fn or child.name)
                continue
            owner[id(child)] = fn
            walk(child, fn)

    walk(tree, None)
    return owner


def _spelled_in(match):
    """``module:function`` names holding a node for which ``match`` holds;
    module-level nodes count as ``module:``."""
    names = set()
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read())
            owner = _owners(tree)
            for node in ast.walk(tree):
                if match(node):
                    names.add(f"{os.path.relpath(path, PKG_DIR)}:{owner.get(id(node)) or ''}")
    return names


def _calls(node, name):
    return isinstance(node, ast.Call) and (
        getattr(node.func, "attr", None) == name or getattr(node.func, "id", None) == name
    )


def _trim_text(node):
    return _calls(node, "trim") and [ast.unparse(a) for a in node.args] == ["'text'"]


def _lower_trim(node):
    return _calls(node, "lower") and len(node.args) == 1 and _trim_text(node.args[0])


def _ws_split(node):
    return (
        _calls(node, "split")
        and len(node.args) >= 2
        and isinstance(node.args[1], ast.Constant)
        and node.args[1].value == r"\s+"
    )


def _md5_norm(node):
    return (
        _calls(node, "md5")
        and len(node.args) == 1
        and (_lower_trim(node.args[0]) or _calls(node.args[0], "norm_text"))
    )


def _non_empty(node):
    return (
        isinstance(node, ast.Compare)
        and isinstance(node.ops[0], ast.Gt)
        and _calls(node.left, "length")
        and len(node.left.args) == 1
        and _trim_text(node.left.args[0])
        and ast.unparse(node.comparators[0]) == "0"
    )


def _string_bigram(node):
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "sequence(1, size(w) - 1)" in node.value
        and "concat" in node.value
    )


def _sql_ws_split(node):
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and re.search(r"split\((lower\()?trim\(text\)\)?, '\\\\s\+'\)", node.value)
        is not None
    )


def test_each_text_primitive_has_one_spelling():
    assert _spelled_in(_lower_trim) == {"operators/_shared.py:norm_text"}
    assert _spelled_in(_ws_split) == {"operators/_shared.py:words"}
    assert _spelled_in(_md5_norm) == {"operators/_shared.py:content_hash"}
    assert _spelled_in(_non_empty) == {"operators/_shared.py:docs"}
    assert _spelled_in(_string_bigram) == {"operators/llm.py:_bigrams"}
    # Spark SQL strings that tokenize inside one lambda expression.
    assert _spelled_in(_sql_ws_split) == {
        "operators/llm.py:llm_quality",
        "operators/llm.py:llm_readability",
        "operators/llm.py:llm_mattr",
    }


def test_the_guard_catches_a_respelled_copy():
    samples = {
        _lower_trim: 'F.lower(F.trim("text"))',
        _ws_split: 'F.split(F.trim("text"), r"\\s+")',
        _md5_norm: 'F.md5(F.lower(F.trim("text")))',
        _non_empty: 'F.length(F.trim("text")) > 0',
        _string_bigram: (
            '"transform(sequence(1, size(w) - 1),'
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))\""
        ),
    }
    for match, src in samples.items():
        assert any(match(n) for n in ast.walk(ast.parse(src))), src
    assert any(_md5_norm(n) for n in ast.walk(ast.parse("F.md5(norm_text())")))
    assert not any(_ws_split(n) for n in ast.walk(ast.parse('F.split(F.trim("text"), " ")')))
