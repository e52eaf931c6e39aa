"""Round-14 optimization internals, pinned.

Each rewrite this round claims result-preservation through a structural
argument; these tests make the arguments executable:

  * SymDelete candidate generation (join_fuzzy_blocked) must produce a
    candidate SUPERSET of every levenshtein<=2 pair on an adversarial
    insert/delete/substitute grid — and the op must equal the retired
    all-pairs form end-to-end on the fixture.
  * llm_langid's pre-aggregated scoring (n·ln(1+c) per distinct
    (doc, gram) instead of n repeated additions) must produce the SAME
    ROUNDED scores as the per-occurrence form, and the float-form gap
    must sit orders of magnitude below every score's distance to its
    nearest 1e-6 rounding boundary — the argument that makes the
    reorder safe on this fixture, asserted so a fixture rescale that
    breaks it fails loudly.
  * scan_is_underparallel (the .rdd-free split probe) must agree with
    the question it answers on the fixture scans.
"""

from __future__ import annotations

from types import SimpleNamespace

import pyspark.sql.functions as F

from morphl_model_publishers_churning_users_spark.operators._shared import (
    scan_is_underparallel,
    t,
)
from morphl_model_publishers_churning_users_spark.operators.joins import (
    _symdel_candidate_pairs,
)


def test_symdel_candidates_cover_every_lev2_pair_adversarially(spark):
    """Adversarial grid: one base name plus every edit shape reachable
    within distance 2 (substitutions, insertions, deletions, mixed,
    boundary positions), plus controls at distance 3+. The SymDelete
    candidate set must contain every true lev<=2 pair."""
    base = "abcdefgh"
    names = {
        base,
        "Xbcdefgh", "abcdefgX", "aXcdefgY",          # 1-2 subs
        "bcdefgh", "acdefgh", "abcdefg", "cdefgh",   # 1-2 dels
        "abcdeh", "abfgh"[:6],
        "Zabcdefgh", "abcdefghZ", "abZcdefgh",       # 1 ins
        "ZZabcdefgh", "abcdZefghZ",                  # 2 ins
        "Xbcdefg", "aXcdefghZ",                      # sub+del / sub+ins
        "ZbcdefghY",                                 # ins+sub
        "totally-unrelated", "abXYZfgh",             # controls (d >= 3)
        "", "a", "ab",                               # degenerate lengths
    }
    rows = [(i, n, 0) for i, n in enumerate(sorted(names))]
    df = spark.createDataFrame(rows, "c_custkey bigint, c_name string, c_nationkey bigint")
    cand = {
        (r.key_a, r.key_b) for r in _symdel_candidate_pairs(df).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    truth = {
        (r.key_a, r.key_b)
        for r in a.join(b, F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
            dist.alias("d"),
        )
        .filter(F.col("d") <= 2)
        .collect()
    }
    missing = truth - cand
    assert not missing, f"SymDelete lost {len(missing)} true pairs: {sorted(missing)[:5]}"


def test_fuzzy_blocked_equals_retired_all_pairs_form(spark, sf_dir):
    """End-to-end: the SymDelete op must emit exactly the rows of the
    retired within-block all-pairs + threshold-levenshtein form."""
    from morphl_model_publishers_churning_users_spark.registry import get_queries

    new = get_queries()["join_fuzzy_blocked"](spark, sf_dir)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    a, b = c.alias("a"), c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 2)
    old = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey"))
            & (dist >= 0)
            & (dist <= 2),
        )
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
            dist.cast("bigint").alias("dist"),
        )
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def _langid_score_forms(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
            )
        ).alias("g"),
    )
    gc = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n"))
    profiles = (
        gc.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "g")
        .agg(F.sum("n").alias("c"))
    )
    per_occurrence = (
        grams.join(profiles.withColumnRenamed("lang", "cand_lang"), "g")
        .groupBy("doc_id", "cand_lang")
        .agg(F.sum(F.log(1.0 + F.col("c"))).alias("score"))
    )
    pre_aggregated = (
        gc.join(profiles.withColumnRenamed("lang", "cand_lang"), "g")
        .groupBy("doc_id", "cand_lang")
        .agg(F.sum(F.col("n") * F.log(1.0 + F.col("c"))).alias("score"))
    )
    return per_occurrence, pre_aggregated


def test_langid_preaggregated_scores_round_identically(spark, sf_dir):
    """The shipped form (rounded) must match the per-occurrence form
    (rounded) row-for-row."""
    occ, pre = _langid_score_forms(spark, sf_dir)
    r_occ = occ.select("doc_id", "cand_lang", F.round("score", 6).alias("s"))
    r_pre = pre.select("doc_id", "cand_lang", F.round("score", 6).alias("s"))
    assert r_occ.exceptAll(r_pre).count() == 0
    assert r_pre.exceptAll(r_occ).count() == 0


def test_langid_float_gap_is_orders_below_rounding_boundaries(spark, sf_dir):
    """The safety argument, asserted: max |form gap| must sit at least
    100x below the smallest distance of any unrounded score to its
    nearest 0.5e-6 half-up rounding boundary. A fixture rescale that
    pushes scores near a boundary (or blows the gap up) fails here
    BEFORE it can flip a rounded value."""
    occ, pre = _langid_score_forms(spark, sf_dir)
    joined = occ.alias("o").join(
        pre.alias("p"),
        (F.col("o.doc_id") == F.col("p.doc_id"))
        & (F.col("o.cand_lang") == F.col("p.cand_lang")),
    )
    gap = joined.agg(
        F.max(F.abs(F.col("o.score") - F.col("p.score"))).alias("g")
    ).collect()[0]["g"]
    # distance of score*1e6's fractional part to the 0.5 flip point
    frac = F.abs((F.col("score") * 1e6) % 1.0 - 0.5)
    margin = occ.agg(F.min(frac).alias("m")).collect()[0]["m"]
    assert gap * 100 <= margin, (gap, margin)


def test_scan_is_underparallel_probe(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # the fixture dimension arrives as one split: under-parallel for any
    # par > 1, never for par == 1
    assert scan_is_underparallel(c, 2)
    assert not scan_is_underparallel(c, 1)


def test_scan_is_underparallel_widens_on_unparseable_conf(tmp_path):
    """The gate is a performance decision only: a maxPartitionBytes it
    cannot parse (garbage, a fractional size, zero) widens instead of
    raising into the query."""
    f = tmp_path / "part-0.parquet"
    f.write_bytes(b"x" * 10)

    def scan(raw):
        conf = SimpleNamespace(get=lambda key, default: raw)
        return SimpleNamespace(
            inputFiles=lambda: [f"file://{f}"], sparkSession=SimpleNamespace(conf=conf)
        )

    # control: 10 bytes in 4-byte splits is 3 splits, enough for par 2
    assert not scan_is_underparallel(scan("4b"), 2)
    for raw in ("garbage", "0.5g", "m", "0"):
        assert scan_is_underparallel(scan(raw), 2), raw


def test_scan_is_underparallel_packs_tiny_local_files(tmp_path):
    """par + 1 tiny local files: Spark packs small files into shared
    splits (each costs only openCostInBytes), so the file count proves
    nothing and the byte bound decides — one split, under-parallel."""
    par = 4
    uris = []
    for i in range(par + 1):
        f = tmp_path / f"part-{i}.parquet"
        f.write_bytes(b"x" * 10)
        uris.append(f"file://{f}")

    def scan(files):
        conf = SimpleNamespace(get=lambda key, default: "128m")
        return SimpleNamespace(
            inputFiles=lambda: files, sparkSession=SimpleNamespace(conf=conf)
        )

    assert scan_is_underparallel(scan(uris), par)
    # unreadable sizes: the file count stands in
    remote = [u.replace("file://", "hdfs://nn") for u in uris]
    assert not scan_is_underparallel(scan(remote), par)
    assert scan_is_underparallel(scan(remote[:2]), par)
