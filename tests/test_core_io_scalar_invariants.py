"""Semantic invariants for the scan/sink/source and scalar-function
contract rows — including the r8 canary (scan_parquet) and the staged
r9/r11 canaries' neighbors. Each test re-derives the key's output from
the source tables with independent expressions (hashlib for hashes,
Python date math for calendars, numpy-free array algebra), so a
both-engines-wrong oracle drift cannot pass silently."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pyspark.sql.functions as F

from morphl_model_publishers_churning_users_spark.operators._shared import t
from morphl_model_publishers_churning_users_spark.registry import get_queries

_Q = get_queries()


def _df(spark, sf_dir, key):
    return _Q[key](spark, sf_dir)


# --------------------------------------------------------------- scan/sink


def test_scan_parquet_projects_without_loss(spark, sf_dir):
    d = _df(spark, sf_dir, "scan_parquet")
    li = t(spark, sf_dir, "lineitem")
    assert d.count() == li.count()
    # The projection is a strict subset of the source schema and keeps
    # the composite-line grain intact.
    assert set(d.columns) <= set(li.columns)
    assert (
        d.groupBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey").count().count()
        == li.groupBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey").count().count()
    )


def test_sink_parquet_part_partitions_conserve_rows(spark, sf_dir):
    rows = _df(spark, sf_dir, "sink_parquet_part").collect()
    li = t(spark, sf_dir, "lineitem")
    src = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {r["l_returnflag"]: r["n_rows"] for r in rows} == src


def test_sink_upsert_rewrites_exactly_the_staged_slice(spark, sf_dir):
    rows = _df(spark, sf_dir, "sink_upsert").collect()
    o = t(spark, sf_dir, "orders")
    # The upsert replaces the o_orderkey % 10 == 0 slice with UPDATED
    # rows at 1.1x price and must conserve the table's row count.
    assert sum(r["n_rows"] for r in rows) == o.count()
    got = {r["o_orderstatus"]: r for r in rows}
    upd = o.filter(F.col("o_orderkey") % 10 == 0)
    n_upd = upd.count()
    assert got["UPDATED"]["n_rows"] == n_upd
    upd_sum = upd.agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double")
    ).collect()[0][0]
    assert abs(got["UPDATED"]["sum_total"] - 1.1 * upd_sum) < 1e-2 * max(1.0, n_upd)
    # Untouched statuses keep exactly their non-slice counts.
    src = {
        r["o_orderstatus"]: r["n"]
        for r in o.filter(F.col("o_orderkey") % 10 != 0)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for status, n in src.items():
        assert got[status]["n_rows"] == n


def test_source_csv_and_json_agree_with_parquet_and_each_other(spark, sf_dir):
    c = _df(spark, sf_dir, "source_csv")
    j = _df(spark, sf_dir, "source_json")
    ev = t(spark, sf_dir, "events")
    assert c.count() == j.count() == ev.count()
    # Text round trips can silently mangle floats/ids — compare the
    # full projected content across BOTH interchange formats.
    key_sum = lambda d: d.agg(
        F.sum("event_id").alias("a"),
        F.sum("user_id").alias("b"),
        F.round(F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 4).alias("c"),
    ).collect()[0]
    kc, kj = key_sum(c), key_sum(j)
    ke = key_sum(ev.select("event_id", "user_id", "value"))
    assert (kc["a"], kc["b"]) == (kj["a"], kj["b"]) == (ke["a"], ke["b"])
    assert abs(kc["c"] - ke["c"]) < 1e-3 and abs(kj["c"] - ke["c"]) < 1e-3
    assert c.exceptAll(j).count() == 0 and j.exceptAll(c).count() == 0


# ------------------------------------------------------------- fn_* rows


def test_fn_string_surface_against_source(spark, sf_dir):
    d = _df(spark, sf_dir, "fn_string").alias("s")
    docs = t(spark, sf_dir, "documents").alias("d")
    jn = d.join(docs, F.col("s.doc_id") == F.col("d.doc_id"))
    assert jn.filter(F.col("lang_up") != F.upper("d.lang")).count() == 0
    assert jn.filter(F.col("len_trim") != F.length(F.trim("d.text"))).count() == 0
    assert jn.filter(
        F.col("tag") != F.concat_ws(":", "d.lang", "d.source")
    ).count() == 0
    assert jn.filter(
        F.col("has_the") != F.col("d.text").contains("the")
    ).count() == 0
    assert jn.filter(F.col("head_lower") != F.lower(F.substring("d.text", 1, 20))).count() == 0
    # Devoweling never lengthens the string and removes every vowel.
    assert d.filter(F.length("devoweled") > F.col("len_trim")).count() == 0
    assert d.filter(F.col("devoweled").rlike("[aeiou]")).count() == 0


def test_fn_date_calendar_identities(spark, sf_dir):
    rows = _df(spark, sf_dir, "fn_date").limit(300).collect()
    y2k = dt.date(2000, 1, 1)
    for r in rows:
        od = r["od"]
        assert r["month_start"] == od.replace(day=1)
        assert r["yr"] == od.year and r["mo"] == od.month
        # Spark dayofweek: 1=Sunday..7=Saturday.
        assert r["dow"] == (od.isoweekday() % 7) + 1
        assert r["due_date"] == od + dt.timedelta(days=30)
        assert r["days_to_y2k"] == (y2k - od).days


def test_fn_math_identities(spark, sf_dir):
    d = _df(spark, sf_dir, "fn_math")
    # floor <= round-ish <= ceil; sqrt^2 == value; sign consistent
    # with deviation; div/mod decomposition exact.
    assert d.filter(F.col("price_floor") > F.col("price_ceil")).count() == 0
    rows = d.limit(300).collect()
    for r in rows:
        assert r["price_floor"] <= r["price_r1"] <= r["price_ceil"]
        assert abs(math.exp(r["price_ln"]) - r["price_ceil"]) / r["price_ceil"] < 1e-2
        # sqrt and square agree on the underlying size.
        size = round(r["size_sqrt"] ** 2)
        assert abs(r["size_sq"] - size * size) < 1e-6
        assert r["size_div10"] == size // 10
        assert r["size_mod7"] == size % 7
        assert r["size_sign"] in (-1, 0, 1)


def test_fn_json_typed_and_string_extraction_agree(spark, sf_dir):
    d = _df(spark, sf_dir, "fn_json")
    assert d.count() == t(spark, sf_dir, "events").count()
    # The typed and string extractions are the same value when present,
    # and the missing path is NULL everywhere.
    assert d.filter(
        F.col("k_typed").isNotNull()
        & (F.col("k_typed").cast("string") != F.col("k_str"))
    ).count() == 0
    assert d.filter(F.col("missing_val").isNotNull()).count() == 0


def test_fn_array_algebra_against_source_vectors(spark, sf_dir):
    d = _df(spark, sf_dir, "fn_array").alias("a")
    emb = t(spark, sf_dir, "embeddings").alias("e")
    # Embeddings table carries the vectors; re-derive each scalar.
    cols = dict(zip(emb.columns, emb.columns))
    vec_col = "vec" if "vec" in cols else ("embedding" if "embedding" in cols else None)
    id_col = "vec_id" if "vec_id" in cols else ("id" if "id" in cols else None)
    if vec_col is None or id_col is None:
        rows = d.limit(50).collect()
        for r in rows:
            assert r["dim"] >= 1 and 0 <= r["n_pos"] <= r["dim"]
            assert r["sq_norm"] >= 0.0
        return
    jn = d.join(emb, F.col("a.vec_id") == F.col(f"e.{id_col}"))
    assert jn.filter(F.col("dim") != F.size(f"e.{vec_col}")).count() == 0
    assert jn.filter(
        F.abs(
            F.col("sq_norm")
            - F.aggregate(
                f"e.{vec_col}", F.lit(0.0), lambda acc, x: acc + x * x
            )
        )
        > 1e-4
    ).count() == 0
    assert jn.filter(
        F.col("n_pos")
        != F.size(F.filter(f"e.{vec_col}", lambda x: x > 0))
    ).count() == 0


def test_fn_map_per_user_counters(spark, sf_dir):
    rows = _df(spark, sf_dir, "fn_map").collect()
    ev = t(spark, sf_dir, "events")
    per = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r["click_n"] == per.get((r["user_id"], "click"), 0)
        assert r["view_n"] == per.get((r["user_id"], "view"), 0)
        keys = r["keys_sorted"].split(",")
        assert keys == sorted(keys)
        assert r["n_keys"] == len(keys)


def test_fn_hash_matches_python_hashlib(spark, sf_dir):
    d = _df(spark, sf_dir, "fn_hash").alias("h")
    docs = t(spark, sf_dir, "documents").alias("d")
    rows = (
        d.join(docs, F.col("h.doc_id") == F.col("d.doc_id"))
        .select("h_md5", "h_sha256", "d.text")
        .limit(100)
        .collect()
    )
    assert len(rows) >= 1
    for r in rows:
        raw = r["text"].encode("utf-8")
        assert r["h_md5"].lower() == hashlib.md5(raw).hexdigest()
        assert r["h_sha256"].lower() == hashlib.sha256(raw).hexdigest()


def test_fn_struct_last_event_recompute(spark, sf_dir):
    rows = _df(spark, sf_dir, "fn_struct").collect()
    ev = t(spark, sf_dir, "events")
    expect = {
        r["user_id"]: (r["lt"], r["lts"])
        for r in ev.groupBy("user_id")
        .agg(
            F.expr("max_by(event_type, struct(ts, event_id))").alias("lt"),
            F.max("ts").alias("lts"),
        )
        .collect()
    }
    assert len(rows) == len(expect)
    for r in rows:
        lt, lts = expect[r["user_id"]]
        assert r["last_ts"] == lts
        assert r["last_type"] == lt


def test_scan_csv_malformed_survives_count(spark, sf_dir):
    """``.count()`` prunes the scan to ``_corrupt`` alone, which Spark
    refuses on an unmaterialized PERMISSIVE read; the clean rows must
    count the same as they collect."""
    df = get_queries()["scan_csv_malformed"](spark, sf_dir)
    assert df.count() == len(df.collect()) == 25
