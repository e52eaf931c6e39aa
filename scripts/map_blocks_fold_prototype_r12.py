"""Round-12 de-risk prototype for the STAGED round-13 stretch design
`fn_avro_map_blocks` (since built, in functions/scalar.py).

The design reuses two already-proven pieces: Avro block framing with
both wire forms (fn_avro_array_blocks) and length-prefixed string
frames (fn_avro_union_nullable). The ONE genuinely new mechanic a
map<string,long> adds is the decode fold's DATA-DEPENDENT cursor
advance: each entry starts with a zigzag-varint KEY LENGTH read from
the wire itself, so the fold must skip a variable number of key bytes
(klen + its varint's own width) before the value varint — unlike the
array fold, where every element is one fixed-kind varint. This
prototype isolates exactly that composition:

  encode  (per key): count varint, then per entry
          zigzag(octet_length(key)) varint + raw UTF-8 key bytes +
          zigzag(value) varint, then the 0x00 terminator — built with
          the package's own _avro_zigzag/_pb_varint_u64 expressions
          inside an F.aggregate over the entry array.
  decode  one F.aggregate fold over sequence(1, count) carrying
          (cursor, key_byte_total, value_sum): klen via
          unzigzag(vval10(cursor)), jump vlen10(cursor) + klen, value
          via unzigzag(vval10(...)), jump its vlen10.
  checks  fold cursor must land EXACTLY on the terminator (tiling),
          decoded (n_entries, key_byte_total, value_sum) must match
          both the pre-encode truth AND an independent pure-Python
          spec decoder run over the collected wire bytes.

Entry keys are o_orderpriority strings — genuinely variable length
(\"5-LOW\" = 5 bytes ... \"4-NOT SPECIFIED\" = 15 bytes) — so a fold
that mis-advanced by even one byte desyncs and flips every check.

Run:  python scripts/map_blocks_fold_prototype_r12.py [sf_dir]
Record results in SURVEY §6 (round-12 log) and the r13 design comment.
"""

import os
import sys

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from morphl_model_publishers_churning_users_spark import catalog
from morphl_model_publishers_churning_users_spark.operators._shared import t

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.driver.memory", "8g")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
catalog.ensure_confs(spark)

from morphl_model_publishers_churning_users_spark.functions.scalar import (  # noqa: E402
    _avro_unzigzag,
    _avro_zigzag,
    _pb_varint_u64,
    _pb_vlen10,
    _pb_vval10,
)


def py_zigzag(n):
    return (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1


def py_varint(v):
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def py_decode(wire):
    """Independent spec decoder: returns (n, key_bytes, val_sum) and
    asserts the terminator tiles the wire exactly."""

    def rd_varint(pos):
        shift = v = 0
        while True:
            b = wire[pos]
            v |= (b & 0x7F) << shift
            pos += 1
            if not (b & 0x80):
                return v, pos
            shift += 7

    def unzig(z):
        return (z >> 1) ^ -(z & 1)

    n, pos = rd_varint(0)
    n = unzig(n)
    kb = vs = 0
    for _ in range(n):
        klen, pos = rd_varint(pos)
        klen = unzig(klen)
        kb += klen
        pos += klen
        val, pos = rd_varint(pos)
        vs += unzig(val)
    term, pos = rd_varint(pos)
    assert term == 0 and pos == len(wire), "python decode: bad terminator/tiling"
    return n, kb, vs


def main():
    # entries: per order key, (priority -> cents-delta sum); priorities
    # are variable-length keys, sums of both signs exercise zigzag.
    entries = (
        t(spark, SF, "orders")
        .orderBy("o_orderkey")
        .limit(500)
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("k"),
            (
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
                - 15000000
            ).alias("v"),
        )
        .groupBy("o_orderkey", "k")
        .agg(F.sum("v").alias("v"))
        .groupBy("o_orderkey")
        .agg(F.sort_array(F.collect_list(F.struct("k", "v"))).alias("es"))
    )

    zz_varint = lambda x: _pb_varint_u64(_avro_zigzag(x))
    enc = entries.select(
        "o_orderkey",
        F.size("es").alias("n_true"),
        F.aggregate(
            "es", F.lit(0).cast("bigint"), lambda a, e: a + F.octet_length(e["k"])
        ).alias("kb_true"),
        F.aggregate("es", F.lit(0).cast("bigint"), lambda a, e: a + e["v"]).alias(
            "vs_true"
        ),
        F.concat(
            zz_varint(F.size("es")),
            F.aggregate(
                "es",
                F.lit(b""),
                lambda acc, e: F.concat(
                    acc,
                    zz_varint(F.octet_length(e["k"])),
                    F.encode(e["k"], "UTF-8"),
                    zz_varint(e["v"]),
                ),
            ),
            F.lit(b"\x00"),
        ).alias("payload"),
    ).localCheckpoint()  # the encode checkpoint the sibling codecs use

    # ---- the new mechanic: variable-advance fold decode -------------
    n_dec = _avro_unzigzag(_pb_vval10(F.lit(1)))
    c0 = F.lit(1) + _pb_vlen10(F.lit(1))
    state0 = F.struct(
        c0.cast("bigint").alias("c"),
        F.lit(0).cast("bigint").alias("kb"),
        F.lit(0).cast("bigint").alias("vs"),
    )

    def step(s, _i):
        klen = _avro_unzigzag(_pb_vval10(s["c"]))
        kj = s["c"] + _pb_vlen10(s["c"]) + klen  # jump len-varint + key bytes
        return F.struct(
            (kj + _pb_vlen10(kj)).alias("c"),
            (s["kb"] + klen).alias("kb"),
            (s["vs"] + _avro_unzigzag(_pb_vval10(kj))).alias("vs"),
        )

    # localCheckpoint between the fold and its consumers: every later
    # reference to st would otherwise re-substitute the entire ladder
    # tree (CollapseProject), and the step already multiplies the
    # kj sub-tree into each value-ladder limb — the same
    # expression-blowup the sibling codecs stage away. Without this
    # the analyzer OOMs the driver heap.
    dec = (
        enc.select(
            "o_orderkey",
            "n_true",
            "kb_true",
            "vs_true",
            n_dec.alias("n_dec"),
            F.aggregate(F.sequence(F.lit(1), n_dec), state0, step).alias("st"),
            F.octet_length("payload").alias("wlen"),
        )
        .localCheckpoint()
        .select(
            "*",
            # tiling: cursor must sit ON the 0x00 terminator = last byte
            (F.col("st.c") == F.col("wlen")).alias("tiled"),
        )
    )

    bad = dec.where(
        ~F.col("tiled")
        | (F.col("n_dec") != F.col("n_true"))
        | (F.col("st.kb") != F.col("kb_true"))
        | (F.col("st.vs") != F.col("vs_true"))
    ).count()
    total = dec.count()
    assert bad == 0, f"fold decode desynced on {bad}/{total} wires"
    print(f"[1] variable-advance fold decode exact on {total} wires (0 desyncs)")

    # ---- independent pure-Python spec decoder over the same bytes ---
    rows = dec.join(enc.select("o_orderkey", "payload"), "o_orderkey").select(
        "payload", "n_true", "kb_true", "vs_true"
    ).collect()  # 500 fixture wires, prototype-only
    for r in rows:
        assert py_decode(bytes(r["payload"])) == (
            r["n_true"],
            r["kb_true"],
            r["vs_true"],
        ), "python spec decoder disagrees"
    print(f"[2] pure-Python spec decoder agrees on all {len(rows)} wires")

    # key-length spread proves the advance is genuinely variable
    spread = (
        entries.select(F.explode("es").alias("e"))
        .select(F.octet_length("e.k").alias("kl"))
        .agg(F.min("kl"), F.max("kl"))
        .collect()[0]
    )
    assert spread[0] != spread[1], "fixture keys all same length — test is weak"
    print(f"[3] key byte-lengths span {spread[0]}..{spread[1]} — advance is data-dependent")


if __name__ == "__main__":
    main()
