"""The oracle-parity arithmetic and the materialization primitive, spelled once.

`operators/_shared.py` owns the parity rule ("half-up quantize to 1e-k,
sum exactly through DECIMAL") as `qround`/`qdec`/`qsum`/`dsum`, and the
lineage-cutting checkpoint as `ckpt`. These tests keep it that way:

  * each helper builds exactly the expression it documents, for every
    scale the operators use (the plans depend on it term for term);
  * no package function re-derives a helper as a local lambda, and no
    expression outside `_shared` spells one of the four forms inline;
  * `localCheckpoint` is called only inside `ckpt`, so the
    `SPARK_GRAFT_CHECKPOINT_DIR` deployment setting reaches every
    materialization.
"""

from __future__ import annotations

import ast
import os

import pyspark.sql.functions as F

import morphl_model_publishers_churning_users_spark as pkg
from morphl_model_publishers_churning_users_spark.operators._shared import (
    dsum,
    qdec,
    qround,
    qsum,
)

PKG_DIR = os.path.dirname(pkg.__file__)
SHARED = os.path.join(PKG_DIR, "operators", "_shared.py")
SCALES = (3, 6, 9, 12)
_DEC_HELPERS = {"qdec", "q6dec", "q12dec"}


def _sources():
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    yield path, ast.parse(f.read())


def _lit(node):
    """The float of an ``F.lit(<float>)`` call, else None."""
    if (
        isinstance(node, ast.Call)
        and ast.unparse(node.func) == "F.lit"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, float)
    ):
        return node.args[0].value
    return None


def _cast_of(node, type_name):
    """X for ``X.cast(type_name)``, else None."""
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == type_name
    ):
        return node.func.value
    return None


def _floor_scale(node):
    """k for ``F.floor(X * F.lit(1e{k}) + F.lit(0.5))``, else None."""
    if not (isinstance(node, ast.Call) and ast.unparse(node.func) == "F.floor"):
        return None
    a = node.args[0] if len(node.args) == 1 else None
    if not (isinstance(a, ast.BinOp) and isinstance(a.op, ast.Add) and _lit(a.right) == 0.5):
        return None
    m = a.left
    if isinstance(m, ast.BinOp) and isinstance(m.op, ast.Mult):
        for k in SCALES:
            if _lit(m.right) == 10.0**k:
                return k
    return None


def _dec_scale(node):
    """k for the decimal form ``F.floor(...).cast("decimal(38,k)")`` or a
    one-argument call of a decimal helper, else None."""
    for k in SCALES:
        inner = _cast_of(node, f"decimal(38,{k})")
        if inner is not None and _floor_scale(inner) == k:
            return k
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
        if node.func.id == "qdec":
            scale = node.args[1:] or [kw.value for kw in node.keywords if kw.arg == "k"]
            return scale[0].value if scale and isinstance(scale[0], ast.Constant) else 6
        if node.func.id in _DEC_HELPERS:
            return 12 if node.func.id == "q12dec" else 6
    return None


def parity_form(node):
    """The helper an expression spells out by hand, or None.

    The four forms, k in 3/6/9/12: ``floor(x·1e{k} + 0.5) / 1e{k}``
    (qround), the same floor cast to decimal(38,k) (qdec), the DOUBLE sum
    of that decimal over 1e{k} (qsum) and the DOUBLE sum of a plain
    decimal(38,k) cast (dsum)."""
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div):
        for k in SCALES:
            if _lit(node.right) != 10.0**k:
                continue
            if _floor_scale(node.left) == k:
                return "qround"
            summed = _cast_of(node.left, "double")
            if (
                isinstance(summed, ast.Call)
                and ast.unparse(summed.func) == "F.sum"
                and len(summed.args) == 1
                and _dec_scale(summed.args[0]) == k
            ):
                return "qsum"
    for k in SCALES:
        inner = _cast_of(node, f"decimal(38,{k})")
        if inner is not None and _floor_scale(inner) == k:
            return "qdec"
    summed = _cast_of(node, "double")
    if (
        isinstance(summed, ast.Call)
        and ast.unparse(summed.func) == "F.sum"
        and len(summed.args) == 1
    ):
        for k in SCALES:
            inner = _cast_of(summed.args[0], f"decimal(38,{k})")
            if inner is not None and _floor_scale(inner) is None:
                return "dsum"
    return None


def _enclosing_functions(tree):
    """{id(node): name of the innermost enclosing def} for every node."""
    owner = {}

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, ast.FunctionDef) else fn
            owner[id(child)] = name
            walk(child, name)

    walk(tree, None)
    return owner


def test_helpers_build_the_documented_expression(spark):
    """Each helper's Catalyst expression is the hand-spelled one, with
    ``10.0 ** k`` printing as the same double literal as ``1e{k}``."""
    c = F.col("x")
    for k in SCALES:
        g = float(f"1e{k}")
        dec = F.floor(c * F.lit(g) + F.lit(0.5)).cast(f"decimal(38,{k})")
        assert str(qround(c, k)) == str(F.floor(c * F.lit(g) + F.lit(0.5)) / F.lit(g))
        assert str(qdec(c, k)) == str(dec)
        assert str(qsum(c, k)) == str(F.sum(dec).cast("double") / F.lit(g))
        assert str(dsum(c, k)) == str(F.sum(c.cast(f"decimal(38,{k})")).cast("double"))
    assert str(qround(c)) == str(qround(c, 6))
    assert str(dsum(c)) == str(F.sum(c.cast("decimal(38,6)")).cast("double"))


def test_parity_form_recognizes_every_spelling():
    """The scanner below is only as good as its matcher: it must flag each
    hand-spelled form (any scale, any lambda argument name) and leave the
    irregular bodies alone."""
    flagged = {
        "F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)": "qround",
        "F.floor(c * F.lit(1e3) + F.lit(0.5)) / F.lit(1e3)": "qround",
        'F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,9)")': "qdec",
        'F.sum(F.floor(c * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,12)"))'
        '.cast("double") / F.lit(1e12)': "qsum",
        'F.sum(q12dec(c)).cast("double") / F.lit(1e12)': "qsum",
        'F.sum(qdec(c, 9)).cast("double") / F.lit(1e9)': "qsum",
        'F.sum(qdec(c)).cast("double") / F.lit(1e6)': "qsum",
        'F.sum(c.cast("decimal(38,12)")).cast("double")': "dsum",
    }
    for src, form in flagged.items():
        assert parity_form(ast.parse(src, mode="eval").body) == form, src
    for src in (
        "F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e9)",
        "F.floor(c * F.lit(1e6) - F.lit(0.5)) / F.lit(1e6)",
        'F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,12)")',
        'qdec(c, 9) / F.lit(1e9)',
        'F.sum(qdec(c, 9)).cast("double") / F.lit(1e6)',
        "F.floor(c * F.lit(g) + F.lit(0.5)) / F.lit(g)",
        'F.round(F.sum("x"), 6)',
    ):
        assert parity_form(ast.parse(src, mode="eval").body) is None, src


def test_no_local_parity_lambdas():
    """No package function assigns a lambda that re-derives a shared
    parity helper; call `_shared.qround/qdec/qsum/dsum` instead."""
    hits = []
    for path, tree in _sources():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Lambda)
                and len(node.value.args.args) == 1
            ):
                form = parity_form(node.value.body)
                if form:
                    hits.append(f"{os.path.relpath(path, PKG_DIR)}:{node.lineno} → {form}")
    assert not hits, f"{len(hits)} local parity lambdas:\n" + "\n".join(hits)


def test_no_inline_parity_spellings():
    """Outside `_shared`, no expression spells one of the four parity
    forms by hand."""
    hits = []
    for path, tree in _sources():
        if path == SHARED:
            continue
        for node in ast.walk(tree):
            if isinstance(node, (ast.BinOp, ast.Call)) and parity_form(node):
                hits.append(f"{os.path.relpath(path, PKG_DIR)}:{node.lineno}")
    assert not hits, f"{len(hits)} hand-spelled parity forms:\n" + "\n".join(hits)


def test_local_checkpoint_only_inside_ckpt():
    """Every materialization goes through `_shared.ckpt`, so
    SPARK_GRAFT_CHECKPOINT_DIR switches all of them to reliable
    checkpoints."""
    hits = []
    for path, tree in _sources():
        owner = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
                and not (path == SHARED and owner.get(id(node)) == "ckpt")
            ):
                hits.append(f"{os.path.relpath(path, PKG_DIR)}:{node.lineno}")
    assert not hits, f"{len(hits)} raw localCheckpoint calls:\n" + "\n".join(hits)


def test_helper_names_are_not_shadowed():
    """A local binding of a helper's name would silently replace the
    shared spelling inside that function."""
    names = {"qround", "qdec", "qsum", "dsum"}
    hits = []
    for path, tree in _sources():
        if path == SHARED:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Load):
                bound = node.id
            elif isinstance(node, ast.FunctionDef):
                bound = node.name
            elif isinstance(node, ast.arg):
                bound = node.arg
            else:
                continue
            if bound in names:
                hits.append(f"{os.path.relpath(path, PKG_DIR)}:{node.lineno} {bound}")
    assert not hits, hits
