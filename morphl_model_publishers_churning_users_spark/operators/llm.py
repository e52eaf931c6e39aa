"""§2.J — LLM-training-data pipeline operators over documents/embeddings.

Mandated extension beyond the reference (BASELINE.json north star): the
operations a 100 TB corpus pipeline needs — dedup (exact / MinHash-LSH /
SimHash / n-gram Jaccard), similarity search (exact + LSH-approx),
text analysis (lang-ID, quality, token counting, fingerprinting).

Scale shapes:
  * exact dedup & fingerprints: one hash shuffle on the content hash;
  * shingle/trigram ops: explode → aggregate, no cartesian anywhere —
    candidate pairs come from joining on shared shingles (high
    selectivity) or LSH buckets, never from crossJoin;
  * similarity search: query side broadcast, norms precomputed per row,
    dot products via zip_with/aggregate HOFs (JVM codegen, no UDF).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Window

from ..registry import register
from ._shared import DSUM, ckpt, dsum, qdec, qround, qsum, scan_is_underparallel, t, with_stats

# ---------------------------------------------------------------- dedup

@register(
    "llm_dedup_exact",
    oracle="""
SELECT md5(lower(trim(text))) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS dup_count
FROM documents GROUP BY 1
""",
)
def llm_dedup_exact(spark, sf_dir):
    """Exact corpus dedup by normalized-content hash; keeps the smallest
    doc_id per group (deterministic survivor policy)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.lower(F.trim("text"))).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _signed_corpus(spark, sf_dir):
    """The MinHash-signed corpus, checkpointed: (doc_id, sarr, sz,
    features, hashes) per document with ≥1 distinct 3-word shingle, plus
    the fitted LSH model. Binary HashingTF → MinHashLSH(5 tables).

    Shingles, not words, are load-bearing for scale: each of Spark's
    MinHash tables buckets on ONE min-hashed element, so with a small
    shared vocabulary the globally-minimal WORD hash puts a large
    fraction of the corpus into a single bucket — an O(n²) hot bucket
    (observed: one straggler task grinding the sf0.1 bench). The
    3-word-shingle space is ~vocab³, the min disperses, and bucket
    sizes stay bounded. Docs with <3 words have no shingles and are
    excluded (an empty vector cannot be min-hashed; such docs cannot be
    shingle near-dups of anything). The shingle array is de-duplicated;
    HashingTF is binary, so the vectors are the same either way, and
    the stored set doubles as the exact-Jaccard input."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = _shingle_sets(
        t(spark, sf_dir, "documents").select("doc_id", "text"), F.lower(F.trim("text"))
    )
    vecs = HashingTF(
        inputCol="sarr", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42).fit(vecs)
    # Transform ONCE and MATERIALIZE the signed corpus before the
    # self-join. This is load-bearing, not a cache nicety: left lazy,
    # approxSimilarityJoin's internal `size(hashes) > 0` validation
    # filter is pushed below the repartition exchange by Catalyst with
    # the whole split→shingle-lambda→HashingTF→minhash chain INLINED
    # into it — evaluated in the single-task scan stage, once per join
    # side (profiled: ~7 s of single-threaded work at sf0.1, the op's
    # entire hot spot). localCheckpoint cuts the lineage, so signatures
    # compute once, in parallel, and the join reads stored rows — the
    # same shape as production, where the signed corpus is a persisted
    # artifact that many queries probe.
    return lsh, ckpt(lsh.transform(vecs))


def _lsh_pairs(lsh, signed):
    """Near-dup pairs (doc_a < doc_b, Jaccard distance ≤ 0.6) of a signed
    corpus. approxSimilarityJoin only compares within shared LSH
    buckets — no all-pairs blowup — and emits each pair once."""
    pairs = lsh.approxSimilarityJoin(signed, signed, threshold=0.6, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


def raw_dedup_fuzzy(spark, sf_dir):
    """The MinHash-LSH near-dup pairs (doc_a < doc_b, Jaccard distance
    ≤ 0.6 over 3-word-shingle sets): shingles → binary HashingTF →
    minhash join (see _signed_corpus)."""
    return _lsh_pairs(*_signed_corpus(spark, sf_dir))


@register(
    "llm_dedup_fuzzy",
    oracle="SELECT (SELECT COUNT(*) FROM documents) AS n_docs, TRUE AS recall_ok",
)
def llm_dedup_fuzzy(spark, sf_dir):
    """MinHash-LSH near-dup detection. The LSH bucketing is
    engine-specific, so the driver contract is the ANCHOR pattern: the
    corpus size (exact, hash-matched) plus `recall_ok` — the LSH pair
    set recovering ≥ 50% of the EXACT shingle-Jaccard ≥ 0.4 pairs
    (5 hash tables ⇒ per-pair hit probability 1−(1−J)^5 ≥ 0.92 at
    J = 0.4, so aggregate recall ≥ 0.5 holds with wide margin); the
    oracle emits literal TRUE. Raw pairs via raw_dedup_fuzzy().

    The ground truth is SAMPLED (probe docs: doc_id % 3 == 0; recall
    measured over exact pairs with ≥1 sampled endpoint), so the anchor
    itself is scale-shaped — a sampled-probe × corpus shared-shingle
    join (bounded blocking, never all-pairs), not the full self-join,
    which at 100 TB would dwarf the production LSH path it audits. It
    reads the shingle sets stored in the signed corpus, so the corpus is
    shingled once, in the same set space the LSH hashes.

    One lazy plan after the signature checkpoint: the recall is computed
    cluster-side — exact pairs LEFT JOIN lsh pairs on (doc_a, doc_b),
    one aggregate counting both — never by collecting pair sets to the
    driver (near-dup pair lists grow with the corpus; at 100 TB a
    driver-side set intersection is a memory cliff)."""
    probe_mod = 3
    lsh, signed = _signed_corpus(spark, sf_dir)
    lsh_pairs = _lsh_pairs(lsh, signed).select("doc_a", "doc_b", F.lit(True).alias("hit"))
    exact = _jaccard_pairs(signed, 0.4, probe_mod)
    recall = (
        exact.join(lsh_pairs, ["doc_a", "doc_b"], "left")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.count("hit").alias("n_hit"))
        .select(
            ((F.col("n_exact") == 0) | (F.col("n_hit") * 2 >= F.col("n_exact"))).alias(
                "recall_ok"
            )
        )
    )
    n_docs = t(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(recall)


def raw_dedup_simhash(spark, sf_dir):
    """64-bit SimHash per document (per-bit majority vote over word
    hashes), then candidate near-dup groups = exact signature collisions.
    One explode + one aggregate; signature join is a hash shuffle on a
    single long — the textbook 100 TB near-dup first pass."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    ).withColumn("h", F.xxhash64("w"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = words.groupBy("doc_id").agg(*votes)
    # Assemble the signature: bit b set iff the vote is positive.
    sig = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b).cast("long") if b < 63 else bit * F.lit(-(1 << 63)).cast("long")
        sig = term if sig is None else sig + term
    sigs = agg.select("doc_id", sig.alias("simhash"))
    groups = sigs.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("keep_doc_id")
    )
    return sigs.join(groups, "simhash").select("doc_id", "simhash", "group_size", "keep_doc_id")


@register(
    "llm_dedup_simhash",
    oracle="""
SELECT (SELECT COUNT(*) FROM (
            SELECT lower(trim(text)) AS norm FROM documents
            GROUP BY 1 HAVING COUNT(*) > 1
        )) AS n_exact_dup_groups,
       TRUE AS simhash_covers_exact
""",
)
def llm_dedup_simhash(spark, sf_dir):
    """SimHash near-dup first pass. The 64-bit signatures depend on
    Spark's xxhash64, so the driver contract is the ANCHOR pattern: the
    exact-duplicate group count (oracle-recomputable, hash-matched) plus
    `simhash_covers_exact` — every group of byte-identical normalized
    texts collapsing to ONE simhash signature (identical words ⇒
    identical per-bit votes; a simhash that splits exact duplicates is
    broken by construction). Raw signatures via raw_dedup_simhash()."""
    sigs = raw_dedup_simhash(spark, sf_dir).select("doc_id", "simhash")
    norm = t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim("text")).alias("norm")
    )
    per_group = (
        norm.join(sigs, "doc_id")
        .groupBy("norm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("simhash").alias("n_sigs"),
        )
        .filter(F.col("n") > 1)
    )
    agg = per_group.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(F.col("n_sigs") > 1, 1)).alias("n_split"),
    ).collect()[0]
    return spark.createDataFrame(
        [(int(agg["n_groups"]), bool(agg["n_split"] == 0))],
        "n_exact_dup_groups bigint, simhash_covers_exact boolean",
    )


_NGRAM_SH_SPARK = (
    "transform(sequence(1, greatest(size(w) - 2, 0)), "
    "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))"
)

_NGRAM_SH_DUCK = (
    "list_transform(range(1, len(words) - 1), "
    "i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])"
)


def _shingle_sets(docs, text):
    """Every column of ``docs`` but ``text``, plus ``sarr`` (the doc's
    DISTINCT word-3-shingles, words split on whitespace from the
    ``text`` Column) and ``sz`` (its size, bigint). Docs with < 3 words
    have no shingles and are dropped. The one spelling of the shingle
    set: callers pass the normalization (``F.trim("text")`` for the
    n-gram family, ``F.lower(F.trim("text"))`` for the MinHash family).

    The fixture lands as one small parquet file → one partition, and the
    shingle work would run single-threaded. Spread the RAW rows across
    the cluster BEFORE any per-row transform work — projections do not
    migrate across an exchange, so repartitioning after shingling would
    still compute the shingles on one core (and shuffle the fat arrays
    instead of the raw text). Profiled: moving the exchange below the
    projection cut the transform stage ~6×.

    Guard empties on the CHEAP precondition (≥3 words ⇔ ≥1 shingle),
    not on size(sarr): Catalyst pushes filters through exchanges with
    their expressions inlined, so a filter on the shingle array would
    evaluate the interpreted shingle lambda inside the single-task scan
    stage (profiled: ~7 s at sf0.1). The guard also keeps Spark 4's ANSI
    element_at from throwing on <3-word docs (sequence(1, 0) is [1, 0]).
    The same push-down hits ``explode(sarr)``: Catalyst infers
    ``size(sarr) > 0`` from a generator and pushes it, lambda inlined,
    into the scan. So explode ``sarr`` only from a checkpoint
    (:func:`_doc_shingles` and the callers' own ``ckpt``)."""
    keep = [c for c in docs.columns if c != "text"]
    return (
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(*keep, F.split(text, r"\s+").alias("w"))
        .filter(F.size("w") >= 3)
        .select(*keep, F.array_distinct(F.expr(_NGRAM_SH_SPARK)).alias("sarr"))
        .withColumn("sz", F.size("sarr").cast("bigint"))
    )


def _doc_shingles(spark, sf_dir):
    """(doc_id, sarr, sz) over trimmed text, checkpointed: the shared
    spine of the n-gram Jaccard/containment family."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return ckpt(_shingle_sets(docs, F.trim("text")))


def _jaccard_pairs(sets, min_sim: float, probe_mod: int = 1):
    """Exact shingle-Jaccard ≥ ``min_sim`` pairs (doc_a < doc_b, jac) of
    checkpointed shingle ``sets`` (doc_id, sarr, sz): a shared-shingle
    equi-join, so candidates are only pairs with a common shingle, never
    all-pairs. With ``probe_mod`` > 1, only pairs with ≥1 endpoint a
    probe doc (``doc_id % probe_mod == 0``) are found: a sampled
    probe × corpus join, the bounded ground truth of a recall audit.

    Size filter (AllPairs, Bayardo et al. 2007): J = m/(|A|+|B|−m) ≤
    min(|A|,|B|)/max(|A|,|B|), so a pair with min < max·min_sim can never
    reach min_sim and is cut before the group-by. Exact in doubles too
    (pinned in tests/test_similarity_helpers.py)."""
    g = sets.select("doc_id", "sz", F.explode("sarr").alias("g"))
    a = g.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"), "g")
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"), "g")
    once = F.col("doc_a") < F.col("doc_b")
    if probe_mod > 1:
        a = a.filter(F.col("doc_a") % probe_mod == 0)
        # Each pair once: a pair of two probe docs meets in both
        # orientations (keep doc_a < doc_b); a probe × non-probe pair
        # meets only with the probe doc as doc_a.
        once = once | (F.col("doc_b") % probe_mod != 0)
    jac = F.col("n_common") / (F.col("sza") + F.col("szb") - F.col("n_common"))
    return (
        a.join(b, "g")
        .filter(once)
        .filter(F.least("sza", "szb") >= F.greatest("sza", "szb") * min_sim)
        .groupBy("doc_a", "doc_b", "sza", "szb")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(jac >= min_sim)
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            jac.alias("jac"),
        )
    )


@register(
    "llm_dedup_ngram",
    oracle=f"""
WITH grams AS (
    SELECT DISTINCT doc_id, unnest({_NGRAM_SH_DUCK}) AS g
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents)
), sizes AS (
    SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
""",
)
def llm_dedup_ngram(spark, sf_dir):
    """Word-3-shingle Jaccard near-dup pairs. Candidates come from
    joining on shared shingles (selective — a shared trigram of words is
    rare), so cost is O(shared shingles), not O(n²) pairs."""
    pairs = _jaccard_pairs(_doc_shingles(spark, sf_dir), 0.2)
    return pairs.select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))


# ------------------------------------------------------- similarity search

_DOT = "aggregate(zip_with(qe, ce, (x, y) -> cast(x as double) * cast(y as double)), 0D, (a, x) -> a + x)"
_NORM = "sqrt(aggregate(transform({c}, x -> cast(x as double) * cast(x as double)), 0D, (a, x) -> a + x))"


def _emb_norm():
    """L2 norm of the ``embedding`` array column (transform-sum, codegen)."""
    return F.expr(_NORM.format(c="embedding"))


def _query_pairs(spark, sf_dir):
    """(query_id, neighbor_id, qe, ce, cos_sim): exact cosine of every
    query (vec_id < 5) × corpus pair, self-pairs excluded — the spine of
    the exact top-k ops. The query side is broadcast, norms are computed
    once per row, and the dot product is a zip_with/aggregate (JVM
    codegen, no UDF). ``qe``/``ce`` stay for callers scoring a second
    metric over the same pairs."""
    withnorm = t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _emb_norm().alias("norm")
    )
    q = withnorm.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    c = withnorm.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cnorm"),
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qe",
            "ce",
            F.round(F.expr(_DOT) / (F.col("qnorm") * F.col("cnorm")), 6).alias("cos_sim"),
        )
    )


@register(
    "llm_simsearch",
    oracle="""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(
               SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE))
               / (SQRT(SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(q.embedding[g.i] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE)))),
               6) AS cos_sim
    FROM q, embeddings c, generate_series(1, 64) g(i)
    WHERE c.vec_id <> q.vec_id
    GROUP BY 1, 2
), ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 10
""",
)
def llm_simsearch(spark, sf_dir):
    """Exact cosine top-k: query side broadcast, per-row norms computed
    once, dot product via zip_with/aggregate (JVM codegen — no UDF), then
    per-query top-k via window rank. At 100 TB the same plan holds with a
    bounded query set; for open-ended k-NN use llm_simsearch_ann."""
    pairs = _query_pairs(spark, sf_dir).select("query_id", "neighbor_id", "cos_sim")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


def _sign_bucket_spark(bits: int) -> str:
    """Sign-bit hyperplane bucket over the first `bits` coordinates
    (axis-aligned LSH, deterministic and oracle-expressible). Bucket
    count = 2^bits; size it ≈ log2(n / target_bucket_size) so
    within-bucket pair counts stay bounded as the corpus grows."""
    return " + ".join(
        f"CASE WHEN element_at(embedding, {i + 1}) >= 0 THEN {1 << (bits - 1 - i)} ELSE 0 END"
        for i in range(bits)
    )


def _sign_bucket_duck(bits: int) -> str:
    terms = " + ".join(
        f"CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << (bits - 1 - i)} ELSE 0 END"
        for i in range(bits)
    )
    return f"({terms})"


_SIGN_BUCKET_DUCK = _sign_bucket_duck(4)

_SIGN_BUCKET_SPARK = _sign_bucket_spark(4)


@register(
    "llm_dedup_cosine",
    oracle=f"""
WITH sig AS (
    SELECT vec_id, embedding, {_SIGN_BUCKET_DUCK} AS bucket
    FROM embeddings
), pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(
             SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE))
             / (SQRT(SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(a.embedding[g.i] AS DOUBLE)))
                * SQRT(SUM(CAST(b.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE)))),
             6) AS cos_sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id,
         generate_series(1, 64) g(i)
    GROUP BY 1, 2
)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
""",
)
def llm_dedup_cosine(spark, sf_dir, bits: int = 4):
    """Embedding-cosine near-dup pairs. Candidate blocking = sign bits of
    the first `bits` coordinates (axis-aligned hyperplane LSH,
    deterministic and oracle-expressible), exact cosine rescored only
    within shared buckets — pair count is sum over buckets of |b|²,
    never the full n². The bit count is the scale knob: buckets ≈
    n/2^bits, so set bits ≈ log2(n / target_bucket_size) and the
    within-bucket quadratic term stays constant as the corpus grows
    (the registered default 4 matches the DuckDB oracle twin; the
    bucket-bound property at bits=8 is asserted in tests/test_engine.py).
    NB: higher bits trades recall for cost exactly like any sign-LSH —
    a near-dup pair straddling a later hyperplane lands in different
    buckets."""
    e = t(spark, sf_dir, "embeddings")
    sig = e.select("vec_id", "embedding", F.expr(_sign_bucket_spark(bits)).alias("bucket"))
    a = sig.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("qe"),
        _emb_norm().alias("na"),
        "bucket",
    )
    b = sig.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("ce"),
        _emb_norm().alias("nb"),
        "bucket",
    )
    cos = F.round(F.expr(_DOT) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.3)
    )


def raw_simsearch_ivf(spark, sf_dir):
    """IVF-style approximate NN: MLlib KMeans coarse quantizer (nlist=16)
    partitions the corpus into cells; each query probes its nprobe=2
    nearest centroids and exact-rescoring runs only inside probed cells.
    The cell assignment is a narrow transform; the probe join is an
    equi-join on cluster id — at 100 TB the corpus stays partitioned by
    cell and only ~nprobe/nlist of it is scanned per query."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", array_to_vector("embedding").alias("vec")
    )
    model = KMeans(k=16, seed=42, featuresCol="vec", predictionCol="cell").fit(e)
    assigned = model.transform(e).select("vec_id", "embedding", "cell")
    # Centroids live on the driver inside the fitted model (inherent to
    # KMeans); emit them as a 16-row broadcast table for the probe join.
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    q = assigned.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    qdist = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "qe",
        "cell",
        F.expr(
            "aggregate(zip_with(qe, centroid, (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), 0D, (a, x) -> a + x)"
        ).alias("d2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probed = qdist.withColumn("pr", F.row_number().over(wq)).filter(F.col("pr") <= 2)
    cand = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        "cell",
    )
    pairs = (
        probed.select("query_id", "qe", "cell")
        .join(cand, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(_DOT)
                / (F.expr(_NORM.format(c="qe")) * F.expr(_NORM.format(c="ce"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


def raw_simsearch_ann(spark, sf_dir):
    """Approximate NN via random-projection LSH: bucketed join, compares
    only within shared buckets — the scale path when the query set isn't
    small enough to broadcast."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("vec")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    ).fit(e)
    # Materialize the bucketed corpus once before the join — same
    # rationale as raw_dedup_fuzzy: approxSimilarityJoin's internal
    # validation filters otherwise push below the scan with the
    # array_to_vector + projection chain inlined, recomputed per side
    # inside the single input split. The hashed corpus is the index
    # artifact a production ANN service persists anyway.
    signed = ckpt(lsh.transform(e))
    q = signed.filter(F.col("vec_id") < 5)
    pairs = lsh.approxSimilarityJoin(q, signed, threshold=20.0, distCol="l2_dist")
    pairs = pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id")).select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        F.round("l2_dist", 6).alias("l2_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("l2_dist"), F.asc("neighbor_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


def _exact_l2_top10(spark, sf_dir):
    """Brute-force L2 top-10 per query (vec_id < 5), the ground truth
    for the ANN recall anchor."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    d2 = F.expr(
        "aggregate(zip_with(qe, ce, (x, y) -> (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))), 0D, (a, x) -> a + x)"
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


_N_QUERIES_SQL = "(SELECT COUNT(*) FROM embeddings WHERE vec_id < 5)"


def _recall_anchor(spark, approx_rows, exact_rows, floor: float):
    """Aggregate recall@10 of an approximate neighbor set vs ground
    truth, emitted as the (n_queries, recall_ok) anchor row."""
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    exact = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    recall = (len(approx & exact) / len(exact)) if exact else 1.0
    n_queries = len({q for q, _ in exact})
    return spark.createDataFrame(
        [(int(n_queries), bool(recall >= floor))],
        "n_queries bigint, recall_ok boolean",
    )


@register(
    "llm_simsearch_ann",
    oracle=f"SELECT {_N_QUERIES_SQL} AS n_queries, TRUE AS recall_ok",
)
def llm_simsearch_ann(spark, sf_dir):
    """Random-projection-LSH ANN. The bucketing is engine-specific, so
    the driver contract is the ANCHOR pattern: the query count (exact,
    hash-matched) plus `recall_ok` — the ANN top-10 recovering ≥ 30% of
    the brute-force L2 top-10 across queries (seeded LSH with 4 hash
    tables clears this with margin); the oracle emits literal TRUE.
    Raw neighbor lists via raw_simsearch_ann()."""
    return _recall_anchor(
        spark,
        raw_simsearch_ann(spark, sf_dir).collect(),
        _exact_l2_top10(spark, sf_dir).collect(),
        floor=0.3,
    )


@register(
    "llm_simsearch_ivf",
    oracle=f"SELECT {_N_QUERIES_SQL} AS n_queries, TRUE AS recall_ok",
)
def llm_simsearch_ivf(spark, sf_dir):
    """IVF ANN (KMeans coarse quantizer, probe 2/16 cells). Centroids
    are engine-specific, so the driver contract is the ANCHOR pattern:
    the query count (exact, hash-matched) plus `recall_ok` — probing
    2 of 16 cells must still recover ≥ 20% of the exact cosine top-10
    (the quality bar the property test enforces); the oracle emits
    literal TRUE. Raw neighbor lists via raw_simsearch_ivf()."""
    return _recall_anchor(
        spark,
        raw_simsearch_ivf(spark, sf_dir).collect(),
        llm_simsearch(spark, sf_dir).collect(),
        floor=0.2,
    )


# ------------------------------------------------------------ text analysis

@register(
    "llm_textstats",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND({DSUM("CAST(n_chars AS DOUBLE)")} / COUNT(*), 6) AS avg_chars,
       CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_words,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang
""",
)
def llm_textstats(spark, sf_dir):
    """Corpus text statistics per language — document counts, char/word totals and means from one split-free length pass plus a word count per doc."""
    d = t(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")
    sum_chars = dsum(F.col("n_chars").cast("double"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(sum_chars / F.count(F.lit(1)), 6).alias("avg_chars"),
        F.sum(n_words).alias("total_words"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "llm_langfilter",
    oracle="""
SELECT doc_id, lang, n_chars FROM documents
WHERE lang IN ('en', 'de') AND n_chars BETWEEN 100 AND 400
""",
)
def llm_langfilter(spark, sf_dir):
    """Language/length corpus filter — pushed to the parquet scan."""
    d = t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang").isin("en", "de"))
        .filter(F.col("n_chars").between(100, 400))
        .select("doc_id", "lang", "n_chars")
    )


_STOPWORDS = "('the', 'of', 'and', 'a', 'to', 'in', 'is', 'it')"


@register(
    "llm_quality",
    oracle=f"""
WITH base AS (
    SELECT doc_id, n_chars,
           string_split_regex(trim(text), '\\s+') AS words,
           CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_punct
    FROM documents
), stats AS (
    SELECT doc_id, n_chars, n_punct,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(list_filter(words, w -> w IN {_STOPWORDS})) AS BIGINT) AS n_stop
    FROM base
)
SELECT doc_id, n_words, n_punct,
       ROUND(CAST(n_chars AS DOUBLE) / n_words, 6) AS avg_word_len,
       ROUND(CAST(n_stop AS DOUBLE) / n_words, 6) AS stopword_ratio,
       ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       (n_words >= 20 AND CAST(n_stop AS DOUBLE) / n_words >= 0.05) AS passes
FROM stats
""",
)
def llm_quality(spark, sf_dir):
    """Heuristic quality scoring: length / punctuation / stopword-ratio
    signals with a pass/fail gate — all codegen expressions."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.trim("text"), r"\s+")
    n_words = F.size(words).cast("bigint")
    n_stop = F.size(
        F.expr(f"filter(split(trim(text), '\\\\s+'), w -> w IN {_STOPWORDS})")
    ).cast("bigint")
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit("[^a-z0-9 ]"), F.lit(0))).cast("bigint")
    stop_ratio = n_stop.cast("double") / n_words
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_punct.alias("n_punct"),
        F.round(F.col("n_chars").cast("double") / n_words, 6).alias("avg_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(n_punct.cast("double") / F.col("n_chars"), 6).alias("punct_ratio"),
        ((n_words >= 20) & (stop_ratio >= 0.05)).alias("passes"),
    )


@register(
    "llm_tokens",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(CEIL(n_chars / 4.0) AS BIGINT) AS n_est_tokens
FROM documents
""",
)
def llm_tokens(spark, sf_dir):
    """Token counting: whitespace, BPE-ish regex pieces, and the
    chars/4 estimator — the three standard corpus-sizing counters."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_ws_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("n_est_tokens"),
    )


@register(
    "llm_langid",
    oracle=f"""
WITH grams AS (
    SELECT doc_id, unnest(list_transform(range(1, len(text) - 1),
                   i -> substr(text, CAST(i AS INTEGER), 3))) AS g
    FROM documents
), profiles AS (
    SELECT d.lang, g.g, COUNT(*) AS c
    FROM grams g JOIN documents d USING (doc_id)
    GROUP BY 1, 2
), scores AS (
    SELECT g.doc_id, p.lang, ROUND(SUM(LN(1.0 + p.c)), 6) AS score
    FROM grams g JOIN profiles p ON g.g = p.g
    GROUP BY 1, 2
), ranked AS (
    SELECT doc_id, lang AS pred_lang, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM scores
)
SELECT r.doc_id, r.pred_lang, r.score, d.lang AS true_lang
FROM ranked r JOIN documents d USING (doc_id)
WHERE rn = 1
""",
)
def llm_langid(spark, sf_dir):
    """Character-trigram language ID: per-lang trigram profiles built
    from the corpus, docs scored by summed log-frequency, argmax lang.
    Two aggregates + one selective join — no per-row Python."""
    d = t(spark, sf_dir, "documents")
    # ckpt (r13 optimization, guide §5 multi-consumer discipline): the
    # gram pipeline feeds BOTH the profile aggregate and the scoring
    # join, and the lazy form re-ran the explode (and the documents
    # scan under it) once per consumer — 3 evaluations per action
    # including the profiles subtree inside scores. One eager
    # materialization; isolated noop min-of-3 at sf0.1: 5.73 s → see
    # OPTIMIZATION_r13.md (llm_lang_confusion, which composes this
    # pipeline, inherits the cut). Oracle hash unchanged at
    # sf0.001/0.01/0.1. (r14 moved the checkpoint one aggregate later —
    # gram_counts below — so the materialized table is ~5x smaller.)
    # r13b (guide §2.6 — stragglers): the documents parquet arrives as
    # ONE scan split locally, so the 1.47M-row explode, the checkpoint
    # materialization AND every downstream map-side aggregate / broadcast
    # probe over the checkpointed grams ran in a single task. Spreading
    # the narrow (doc_id, text) rows first costs one tiny exchange and
    # parallelizes the whole gram pipeline; conditional on the actual
    # split count so a large corpus (already many splits) never pays a
    # gratuitous full-table shuffle. Isolated noop min-of-3 at sf0.1:
    # 7.43 s → 4.40 s (llm_lang_confusion, composing this, 7.84 → 4.38).
    # r14: split-count probe is file-metadata-based (scan_is_underparallel)
    # — .rdd.getNumPartitions() forced plan→RDD conversion per call
    # (VERDICT r13 item 5).
    docs = d.select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    if scan_is_underparallel(docs, par):
        docs = docs.repartition(par, "doc_id")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
            )
        ).alias("g"),
    )
    # r14 (guide §2.3 — aggregate before you shuffle; VERDICT r13 item 5
    # of "Next round"): both consumers of the per-occurrence gram table
    # only need DISTINCT (doc, gram) pairs with their occurrence count n
    # — the profile aggregate sums n per (lang, gram) (exact integers,
    # COUNT(*) == SUM(n) by definition) and the scoring join's addend
    # for a (doc, gram, lang) is ln(1+c) repeated n times, computed here
    # as one n·ln(1+c) term. That shrinks the checkpointed table, the
    # profile join and the scoring join from every gram OCCURRENCE
    # (1.47M rows at sf0.1) to every distinct (doc, gram) pair (~5x
    # fewer), with one extra map-side-combinable count aggregate before
    # the checkpoint. Float form: n·ln(1+c) vs n repeated additions of
    # ln(1+c) differ by < n·ulp — orders below the 0.5e-6 rounding
    # grain at fixture magnitudes; the ROUNDED scores were verified
    # bit-identical (and integer profiles exactly identical) at
    # sf0.001/0.01/0.1, and test_r14_optimization_internals pins the
    # float-gap + boundary-distance argument so a fixture rescale that
    # breaks it fails loudly. The oracle keeps its per-occurrence form —
    # both engines still produce the same rounded scores.
    gram_counts = ckpt(
        grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n"))
    )
    profiles = (
        gram_counts.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "g")
        .agg(F.sum("n").alias("c"))
    )
    scores = (
        gram_counts.join(profiles.withColumnRenamed("lang", "cand_lang"), "g")
        .groupBy("doc_id", "cand_lang")
        .agg(F.round(F.sum(F.col("n") * F.log(1.0 + F.col("c"))), 6).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand_lang"))
    best = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), "score")
    )
    return best.join(d.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")


@register(
    "llm_fingerprint",
    oracle=f"""
WITH grams AS (
    SELECT DISTINCT doc_id, md5(unnest({_NGRAM_SH_DUCK})) AS h
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents)
), ranked AS (
    SELECT doc_id, h, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rn
    FROM grams
)
SELECT doc_id, array_to_string(list(h ORDER BY h), ',') AS fingerprint
FROM ranked WHERE rn <= 4 GROUP BY doc_id
""",
)
def llm_fingerprint(spark, sf_dir):
    """Document fingerprint: the 4 smallest shingle hashes (min-k
    signature, the winnowing idea) — equal fingerprints ⇒ near-dup
    candidates. md5 keeps it oracle-comparable; production would use
    xxhash64."""
    grams = _doc_shingles(spark, sf_dir).select(
        "doc_id", F.explode(F.expr("transform(sarr, g -> md5(g))")).alias("h")
    )
    w = Window.partitionBy("doc_id").orderBy("h")
    return (
        grams.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .groupBy("doc_id")
        .agg(F.array_join(F.array_sort(F.collect_list("h")), ",").alias("fingerprint"))
    )


def raw_tfidf(spark, sf_dir):
    """TF-IDF via MLlib transformers (Tokenizer → StopWordsRemover →
    HashingTF → IDF); emits nnz + l2 norm per doc as the checkable
    signature of the vectorization."""
    from pyspark.ml.feature import IDF, HashingTF, StopWordsRemover, Tokenizer
    from pyspark.ml.functions import vector_to_array

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = Tokenizer(inputCol="text", outputCol="words").transform(d)
    filtered = StopWordsRemover(inputCol="words", outputCol="kept").transform(toks)
    tf = HashingTF(inputCol="kept", outputCol="tf", numFeatures=1024).transform(filtered)
    tfidf = IDF(inputCol="tf", outputCol="tfidf").fit(tf).transform(tf)
    with_arr = tfidf.withColumn("tfidf_arr", vector_to_array("tfidf"))
    return with_arr.select(
        "doc_id",
        F.size(F.expr("filter(tfidf_arr, x -> x > 0)")).alias("nnz"),
        F.round(F.expr("sqrt(aggregate(tfidf_arr, 0D, (a, x) -> a + x * x))"), 6).alias("l2_norm"),
    )


@register(
    "llm_tfidf",
    oracle="SELECT (SELECT COUNT(*) FROM documents) AS n_docs, TRUE AS tfidf_ok",
)
def llm_tfidf(spark, sf_dir):
    """Hashed TF-IDF vectorization. The 1024-bucket hashed feature
    space is engine-specific, so the driver contract is the ANCHOR
    pattern: every document vectorized exactly once (count hash-matched)
    plus `tfidf_ok` — every vector non-degenerate (0 ≤ nnz ≤ 1024,
    finite non-negative norm, nnz = 0 only with a zero norm); the
    oracle emits literal TRUE. Per-doc signatures via raw_tfidf()."""
    sig = raw_tfidf(spark, sf_dir)
    row = sig.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("nnz").alias("nnz_min"),
        F.max("nnz").alias("nnz_max"),
        F.min("l2_norm").alias("norm_min"),
        F.count(F.when(F.isnan("l2_norm"), 1)).alias("n_nan"),
        F.count(F.when((F.col("nnz") == 0) & (F.col("l2_norm") != 0), 1)).alias("n_bad_zero"),
    ).collect()[0]
    ok = (
        row["n_rows"] == row["n_docs"]
        and 0 <= row["nnz_min"]
        and row["nnz_max"] <= 1024
        and row["norm_min"] >= 0.0
        and row["n_nan"] == 0
        and row["n_bad_zero"] == 0
    )
    return spark.createDataFrame(
        [(int(row["n_docs"]), bool(ok))], "n_docs bigint, tfidf_ok boolean"
    )


@register(
    "llm_embed_ops",
    oracle="""
SELECT vec_id,
       ROUND(SQRT(SUM(v * v)), 6) AS l2_norm,
       ROUND(SUM(v) / 64, 6) AS mean_elem,
       ROUND(MAX(v), 6) AS max_elem,
       ROUND(MIN(v), 6) AS min_elem
FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)
GROUP BY vec_id
""",
)
def llm_embed_ops(spark, sf_dir):
    """Vector column ops via higher-order functions — L2 norm, mean pool,
    min/max — all inside codegen, no UDF, no explode shuffle."""
    e = t(spark, sf_dir, "embeddings")
    sum_ = "aggregate(transform(embedding, x -> cast(x as double)), 0D, (a, x) -> a + x)"
    sumsq = "aggregate(transform(embedding, x -> cast(x as double) * cast(x as double)), 0D, (a, x) -> a + x)"
    return e.select(
        "vec_id",
        F.round(F.sqrt(F.expr(sumsq)), 6).alias("l2_norm"),
        F.round(F.expr(sum_) / 64, 6).alias("mean_elem"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_elem"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_elem"),
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+?\\d[\\d-]{6,}\\d"


@register(
    "llm_pii_scrub",
    oracle=f"""
WITH seeded AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or +1-555-0100' 
                ELSE text END AS raw
    FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS INTEGER) AS n_phones
FROM seeded
""",
)
def llm_pii_scrub(spark, sf_dir):
    """PII redaction for training corpora: regex-scrub emails and
    phone-number runs, reporting per-doc redaction counts. Pure codegen
    expressions (regexp_replace/regexp_count) — scan-speed at any scale.
    The fixture word-soup contains no organic PII, so deterministic PII
    is seeded into every 5th doc first (both engines seed identically,
    keeping the whole pipeline oracle-checked)."""
    d = t(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-0100"),
        ),
    ).otherwise(F.col("text"))
    seeded = d.select("doc_id", raw.alias("raw"))
    return seeded.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("clean_text"),
        F.regexp_count("raw", F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("raw", F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
    )


@register(
    "llm_contamination",
    oracle=f"""
WITH grams AS (
    SELECT DISTINCT doc_id, unnest({_NGRAM_SH_DUCK}) AS g
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents)
), train AS (
    SELECT DISTINCT g FROM grams WHERE doc_id % 10 < 8
), eval_grams AS (
    SELECT doc_id, g FROM grams WHERE doc_id % 10 >= 8
), sizes AS (
    SELECT doc_id, COUNT(*) AS n_grams FROM eval_grams GROUP BY 1
), hits AS (
    SELECT e.doc_id, COUNT(*) AS n_overlap
    FROM eval_grams e JOIN train t ON e.g = t.g GROUP BY 1
)
SELECT s.doc_id, s.n_grams, COALESCE(h.n_overlap, 0) AS n_overlap,
       CAST(CASE WHEN COALESCE(h.n_overlap, 0) > 0 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
""",
)
def llm_contamination(spark, sf_dir):
    """Benchmark-contamination check: for each held-out (eval) document,
    count word-3-shingles that also occur anywhere in the train split.
    The semi-join on shingles is the scale path — candidates come only
    from shared shingles, never an all-pairs comparison; the train
    shingle set is the distinct'd small side of an equi-join that AQE
    can broadcast when it fits."""
    sets = _doc_shingles(spark, sf_dir)
    grams = sets.select("doc_id", F.explode("sarr").alias("g"))
    train = grams.filter(F.col("doc_id") % 10 < 8).select("g").distinct()
    hits = (
        grams.filter(F.col("doc_id") % 10 >= 8)
        .join(train, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sizes = sets.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.col("sz").alias("n_grams")
    )
    joined = sizes.join(hits, "doc_id", "left")
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0).cast("bigint"))
    return joined.select(
        "doc_id",
        "n_grams",
        n_overlap.alias("n_overlap"),
        F.when(n_overlap > 0, 1).otherwise(0).cast("int").alias("contaminated"),
    )


@register(
    "llm_chunk",
    oracle="""
SELECT doc_id,
       CAST(ck.i AS INTEGER) AS chunk_idx,
       substr(text, CAST(ck.i AS INTEGER) * 160 + 1, 200) AS chunk,
       CAST(strlen(substr(text, CAST(ck.i AS INTEGER) * 160 + 1, 200)) AS BIGINT) AS chunk_chars
FROM documents,
     LATERAL unnest(range(0, CAST(ceil(greatest(strlen(text) - 40, 1) / 160.0) AS BIGINT))) ck(i)
""",
)
def llm_chunk(spark, sf_dir):
    """Context-window chunking (RAG / pretraining prep): 200-char windows
    with 40-char overlap (stride 160). The chunk grid is generated
    per-row with sequence+explode — a narrow transform that fans out
    executor-side, so chunking a 100 TB corpus never touches the driver
    and preserves input partitioning for the downstream tokenizer."""
    d = t(spark, sf_dir, "documents")
    n_chunks = F.ceil((F.greatest(F.length("text") - 40, F.lit(1))) / 160.0).cast("long")
    chunks = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.substring(F.col("text"), F.col("chunk_idx") * 160 + 1, 200)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        chunk.alias("chunk"),
        F.length(chunk).cast("bigint").alias("chunk_chars"),
    )


@register(
    "llm_pack",
    oracle="""
WITH toks AS (
    SELECT doc_id, lang, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
    FROM documents
), packed AS (
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) - n_tokens) / 512) AS BIGINT) AS pack_id
    FROM toks
)
SELECT lang, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM packed GROUP BY 1, 2
""",
)
def llm_pack(spark, sf_dir):
    """Sequence packing for training batches: docs stream in a
    deterministic order (per-lang, by doc_id) and a running token total
    assigns each doc to the 512-token pack its prefix lands in —
    the greedy-fill semantics expressed as ONE window cumsum instead of
    a sequential loop, so packing parallelizes per language partition
    (at 100 TB: per shard key). Output is per-pack occupancy."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512).cast("bigint"),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


@register(
    "llm_tfidf_exact",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM toks WHERE word <> '' GROUP BY doc_id, word
), idf AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word
), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT tf.doc_id, tf.word, tf.tf,
       ROUND(tf.tf * (LN((n.n_docs + 1.0) / (idf.df + 1.0)) + 1.0), 6) AS tfidf
FROM tf JOIN idf USING (word) CROSS JOIN n
""",
)
def llm_tfidf_exact(spark, sf_dir):
    """Exact word-level TF-IDF (smoothed idf = ln((N+1)/(df+1))+1, the
    scikit-learn convention) — unlike llm_tfidf's HashingTF this is
    hash-free and engine-portable, so it gets a full value-checked twin.
    Scale shape: one explode + (doc,word) hash agg for tf; the idf side
    is vocabulary-sized, so the tf⋈idf join is broadcast, and N arrives
    as a broadcast scalar — a single data-sized shuffle end to end."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    idf = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(F.broadcast(idf), "word")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
            ).alias("tfidf"),
        )
    )


_CLUSTER_ORACLE = """
WITH RECURSIVE keys AS (
  SELECT doc_id, array_to_string(w[1:3], ' ') AS k
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
  UNION ALL
  SELECT doc_id, array_to_string(w[greatest(len(w)-2,1):], ' ') AS k
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
), edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM keys a JOIN keys b ON a.k = b.k
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src
)
SELECT c.doc_id, c.component_id, s.n AS component_size
FROM comp c JOIN (SELECT component_id, COUNT(*) AS n FROM comp GROUP BY 1) s
  ON s.component_id = c.component_id
"""


@register("llm_dedup_cluster", oracle=_CLUSTER_ORACLE)
def llm_dedup_cluster(spark, sf_dir):
    """Duplicate-CLUSTER resolution — the step after near-dup detection:
    connected components over the doc↔blocking-key bipartite graph
    (keys: first-3-words and last-3-words shingles), so A~B and B~C
    land in ONE cluster even when A,C share no key. Iterative
    hash-to-min label propagation: each round is two keyed shuffles
    (doc→key min, key→doc min), never materializing pairwise edges —
    the property that matters when a hot bucket would make pairs
    quadratic. Converges in O(component diameter) rounds (bounded 12,
    early-exit on fixpoint). The DuckDB oracle computes the same
    components by recursive transitive closure — tractable at oracle
    scale, impossible at 100 TB, which is exactly why the Spark side
    uses propagation instead."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("w")
    )
    keys = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat_ws(" ", F.slice("w", 1, 3)),
                F.concat_ws(" ", F.expr("slice(w, greatest(size(w) - 2, 1), 3)")),
            )
        ).alias("k"),
    ).persist()
    labels = d.select("doc_id", F.col("doc_id").alias("label"))
    # r13b (guide §1.2 step 1 — fewer jobs for the same fixpoint): TWO
    # doc→key→doc half-steps run lazily per materialized round. The
    # propagation is monotone non-increasing min-label, so the fixpoint
    # is schedule-independent (an f²-fixpoint is an f-fixpoint: labels
    # only ever decrease) and the converged labels are bit-identical;
    # what changes is job count — convergence at sf0.1 took 8
    # materialized rounds (plus 8 convergence probes) before, 5 after.
    # Measured loop-only A/B (same harness, back-to-back): 10.4 s → 4.6 s;
    # isolated registered-op noop min-of-3: 5.47 s → 4.65 s (the op also
    # pays the keys build, final ckpt and sizes tail, which the loop
    # rewrite does not touch). Lineage depth per materialization stays
    # bounded (4 keyed shuffles); unroll=4 measured only marginally
    # faster and doubles the recompute span a lost executor must replay.
    for _ in range(12):
        cur = labels
        for _ in range(2):
            kmin = keys.join(cur, "doc_id").groupBy("k").agg(F.min("label").alias("klabel"))
            cur = keys.join(kmin, "k").groupBy("doc_id").agg(F.min("klabel").alias("label"))
        new = cur.persist()
        changed = (
            labels.withColumnRenamed("label", "old")
            .join(new, "doc_id")
            .filter(F.col("old") != F.col("label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    # Pin the converged labels to executor-local storage BEFORE releasing
    # the iteration caches: Spark does not reuse shuffle output across
    # separately planned queries, so unpersisting a still-lazy `labels`
    # would force the caller's first action to replay the whole
    # label-propagation lineage. The checkpoint truncates the lineage to
    # the materialized blocks; then the caches can go. (ckpt honors
    # SPARK_GRAFT_CHECKPOINT_DIR for a fault-tolerant checkpoint at
    # cluster scale — see operators/_shared.py.)
    final = ckpt(labels)
    labels.unpersist()
    keys.unpersist()
    comp = final.select("doc_id", F.col("label").alias("component_id"))
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("component_size"))
    return comp.join(sizes, "component_id").select("doc_id", "component_id", "component_size")


@register(
    "llm_unigram_lm",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents
), freq AS (
  SELECT w, COUNT(*) AS c FROM words GROUP BY w
), tot AS (
  SELECT COUNT(*) AS n FROM words
)
SELECT d.doc_id,
       ROUND(AVG(log2(f.c) - log2(t.n)), 6) AS avg_log2_p,
       COUNT(*) AS n_tokens
FROM words d JOIN freq f ON d.w = f.w CROSS JOIN tot t
GROUP BY d.doc_id
""",
)
def llm_unigram_lm(spark, sf_dir):
    """Unigram language-model fluency score — mean log2 corpus
    probability of each document's tokens, the cheap statistical proxy
    for 'does this read like the corpus' used in quality filtering
    (perplexity = 2^(-avg_log2_p)). Two aggregates + one equi-join; the
    vocabulary-sized frequency table and the scalar total both
    broadcast, so corpus-sized rows shuffle exactly once (the per-doc
    groupBy). The split/explode tokenization is shared with the rest of
    the text suite."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("w")
    )
    freq = d.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log2("c") - F.log2("n")), 6).alias("avg_log2_p"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def raw_kmeans_embed(spark, sf_dir):
    """Per-cluster sizes from KMeans over the embedding column (k=4,
    seeded; array<float> → ML Vector via array_to_vector, no Python
    boundary). Each Lloyd iteration is one broadcast of k centroids +
    one map-side partial aggregate — the same shape that clusters 10^9
    embeddings."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=4, seed=42, maxIter=10, featuresCol="features").fit(e)
    assigned = model.transform(e)
    return assigned.groupBy(F.col("prediction").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


@register(
    "llm_kmeans_embed",
    oracle="SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors, TRUE AS clusters_ok",
)
def llm_kmeans_embed(spark, sf_dir):
    """Embedding topic clustering. Iterative clustering isn't
    SQL-expressible, so the driver contract is the ANCHOR pattern: the
    cluster sizes summing to the exact corpus size (hash-matched) plus
    `clusters_ok` — 2..4 non-empty clusters (seeded init on dense
    synthetic vectors must not collapse); the oracle emits literal
    TRUE. Raw per-cluster sizes via raw_kmeans_embed()."""
    rows = raw_kmeans_embed(spark, sf_dir).collect()
    total = sum(r["n_vectors"] for r in rows)
    ok = 2 <= len(rows) <= 4 and all(r["n_vectors"] > 0 for r in rows)
    return spark.createDataFrame(
        [(int(total), bool(ok))], "n_vectors bigint, clusters_ok boolean"
    )


@register(
    "llm_dedup_keep_best",
    oracle="""
WITH hashed AS (
  SELECT doc_id, lang, n_chars, md5(lower(trim(text))) AS content_hash
  FROM documents
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY content_hash
                               ORDER BY n_chars DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
  FROM hashed
)
SELECT doc_id, lang, n_chars, content_hash, n_copies
FROM ranked WHERE rn = 1
""",
)
def llm_dedup_keep_best(spark, sf_dir):
    """Policy-driven exact dedup — production corpus dedup keeps the
    BEST representative (longest text, deterministic doc_id tiebreak),
    not an arbitrary survivor. max_by on a (n_chars, -doc_id) struct
    collapses each content-hash group in ONE hash aggregate — no window
    sort over the corpus; the oracle's row_number formulation is the
    semantic spec."""
    d = t(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", "lang", "n_chars", F.md5(F.lower(F.trim("text"))).alias("content_hash")
    )
    best = hashed.groupBy("content_hash").agg(
        F.expr("max_by(struct(doc_id, lang, n_chars), struct(n_chars, -doc_id))").alias("b"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return best.select(
        F.col("b.doc_id").alias("doc_id"),
        F.col("b.lang").alias("lang"),
        F.col("b.n_chars").alias("n_chars"),
        "content_hash",
        "n_copies",
    )


@register(
    "llm_embed_centroid",
    oracle="""
WITH expanded AS (
  SELECT d.lang,
         unnest(range(1, 1 + len(e.embedding))) AS pos,
         unnest(e.embedding) AS val
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
)
SELECT lang, CAST(pos AS INT) AS pos,
       ROUND(AVG(CAST(val AS DOUBLE)), 6) AS centroid_val,
       COUNT(*) AS n_vectors
FROM expanded GROUP BY lang, pos
""",
)
def llm_embed_centroid(spark, sf_dir):
    """Per-language embedding centroids — element-wise mean vectors, the
    building block for cluster seeding, domain drift monitoring, and
    centroid-based near-dup blocking. posexplode flattens (vector →
    dim-indexed rows) so the whole centroid is ONE hash aggregate on
    (lang, pos) with map-side partials — no per-group vector folding in
    Python. Reassembly to array form is array_agg-sorted downstream when
    needed; kept flat here because flat is the shuffle-efficient shape."""
    e = t(spark, sf_dir, "embeddings")
    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    flat = (
        e.join(d, e.vec_id == d.doc_id)
        .select("lang", F.posexplode("embedding").alias("pos0", "val"))
        .select("lang", (F.col("pos0") + 1).cast("int").alias("pos"), "val")
    )
    return flat.groupBy("lang", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@register(
    "llm_ngram_freq",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
), bigrams AS (
  SELECT unnest(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM words
)
SELECT bigram, COUNT(*) AS n
FROM bigrams GROUP BY bigram
ORDER BY n DESC, bigram ASC LIMIT 50
""",
)
def llm_ngram_freq(spark, sf_dir):
    """Corpus bigram frequency table (top 50) — the vocabulary
    statistic behind boilerplate detection and n-gram LM training.
    Array-lambda bigram construction (no UDF), one hash aggregate, and
    a TakeOrderedAndProject top-k with the bigram itself as tiebreak —
    count ties would otherwise make LIMIT nondeterministic and the
    whole result incomparable."""
    d = t(spark, sf_dir, "documents")
    bigram_expr = (
        "transform(sequence(1, size(w) - 1),"
        " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"
    )
    return (
        d.select(F.split(F.trim("text"), " ").alias("w"))
        .filter(F.size("w") >= 2)  # ANSI: sequence(1,0)=[1,0] indexes OOB on 1-word docs
        .select(F.explode(F.expr(bigram_expr)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(50)
    )


@register(
    "llm_vocab_growth",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM words GROUP BY doc_id
), first_seen AS (
  SELECT w, MIN(doc_id) AS first_doc FROM words GROUP BY w
), new_per_doc AS (
  SELECT first_doc AS doc_id, COUNT(*) AS n_new FROM first_seen GROUP BY first_doc
)
SELECT p.doc_id,
       CAST(SUM(p.n_tokens) OVER (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_vocab
FROM per_doc p LEFT JOIN new_per_doc n ON n.doc_id = p.doc_id
""",
)
def llm_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve (Heaps' law) — cumulative distinct words
    vs cumulative tokens in doc_id order, the corpus-health diagnostic
    (sub-linear growth = natural text; linear = ID/noise pollution).
    Each word's first-appearance doc is ONE aggregate; the cumulative
    window then runs over the doc-count-sized table, not the token
    stream — the same collapse-before-window discipline as the cohort
    curves."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("w")
    )
    per_doc = d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    new_per_doc = (
        d.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        per_doc.join(new_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce("n_new", F.lit(0))).over(w).cast("bigint").alias("cum_vocab"),
        )
    )


@register(
    "llm_repetition",
    oracle="""
WITH base AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
    FROM documents
), grams AS (
    -- range() upper bound is EXCLUSIVE (Spark's sequence() is inclusive):
    -- bigrams i = 1..len-1, trigrams i = 1..len-2, with the same one-
    -- partial-gram floor for short docs as the Spark side.
    -- concat_ws (not ||) so a missing trailing word degrades to the
    -- shorter gram on BOTH engines instead of NULLing the whole gram.
    SELECT doc_id,
           list_transform(range(1, greatest(len(w), 2)),
                          i -> concat_ws(' ', w[i], w[i + 1])) AS bigrams,
           list_transform(range(1, greatest(len(w) - 1, 2)),
                          i -> concat_ws(' ', w[i], w[i + 1], w[i + 2])) AS trigrams
    FROM base
), tri AS (
    SELECT doc_id,
           CAST(len(trigrams) AS BIGINT) AS n_trigrams,
           CAST(len(trigrams) - len(list_distinct(trigrams)) AS BIGINT) AS n_dup_tri
    FROM grams
), big AS (
    SELECT doc_id, unnest(bigrams) AS g FROM grams
), big_counts AS (
    SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY doc_id, g
), big_top AS (
    SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_bigrams
    FROM big_counts GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_trigrams,
       FLOOR(CASE WHEN t.n_trigrams = 0 THEN 0.0
                  ELSE CAST(t.n_dup_tri AS DOUBLE) / t.n_trigrams END * 1000000 + 0.5) / 1000000 AS dup_trigram_frac,
       FLOOR(CASE WHEN COALESCE(b.n_bigrams, 0) = 0 THEN 0.0
                  ELSE CAST(b.top_c AS DOUBLE) / b.n_bigrams END * 1000000 + 0.5) / 1000000 AS top_bigram_share,
       (CASE WHEN t.n_trigrams = 0 THEN 0.0
             ELSE CAST(t.n_dup_tri AS DOUBLE) / t.n_trigrams END <= 0.2
        AND CASE WHEN COALESCE(b.n_bigrams, 0) = 0 THEN 0.0
                 ELSE CAST(b.top_c AS DOUBLE) / b.n_bigrams END <= 0.18) AS pass_repetition
FROM tri t LEFT JOIN big_top b USING (doc_id)
""",
)
def llm_repetition(spark, sf_dir):
    """Gopher-style repetition filtering signals — the pretraining
    quality gate that catches boilerplate and template spam: per-doc
    duplicate-trigram fraction (what share of word 3-grams repeat) and
    top-bigram share (how much one bigram dominates), plus the pass
    gate at the published-ish thresholds (dup-trigram ≤ 0.2, top-bigram
    ≤ 0.18). The trigram-dup fraction is a NARROW array computation
    (size vs array_distinct size — no explode, no shuffle); only the
    bigram mode needs one (doc, bigram) hash aggregate, keyed fine-
    grained enough that no reducer sees more than one doc's bigrams.
    Both engines compute identical integer counts and one final double
    division, so the oracle is a full value twin."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w")
    )
    # NB: DuckDB's range(1, greatest(len-k, 1)) twin emits one partial
    # gram for short docs, so both sides use the same greatest(..., 1)
    # bound. try_element_at (NOT element_at): under Spark 4's default
    # ANSI mode an out-of-bounds element_at throws on <3-word docs;
    # try_element_at yields NULL, which concat_ws skips — matching
    # DuckDB's NULL-on-OOB list indexing, so the short-doc partial gram
    # degrades identically on both engines.
    grams = d.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, greatest(size(w) - 1, 1)),"
            " i -> concat_ws(' ', try_element_at(w, i), try_element_at(w, i + 1)))"
        ).alias("bigrams"),
        F.expr(
            "transform(sequence(1, greatest(size(w) - 2, 1)),"
            " i -> concat_ws(' ', try_element_at(w, i), try_element_at(w, i + 1),"
            " try_element_at(w, i + 2)))"
        ).alias("trigrams"),
    )
    tri = grams.select(
        "doc_id",
        "bigrams",
        F.size("trigrams").cast("bigint").alias("n_trigrams"),
        (F.size("trigrams") - F.size(F.array_distinct("trigrams"))).cast("bigint").alias("n_dup_tri"),
    )
    big = tri.select("doc_id", "n_trigrams", "n_dup_tri", F.explode_outer("bigrams").alias("g"))
    big_counts = big.groupBy("doc_id", "n_trigrams", "n_dup_tri", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = big_counts.groupBy("doc_id", "n_trigrams", "n_dup_tri").agg(
        F.max("c").alias("top_c"), F.sum("c").cast("bigint").alias("n_bigrams")
    )
    dup_frac = F.when(F.col("n_trigrams") == 0, F.lit(0.0)).otherwise(
        F.col("n_dup_tri").cast("double") / F.col("n_trigrams")
    )
    top_share = F.when(F.coalesce(F.col("n_bigrams"), F.lit(0)) == 0, F.lit(0.0)).otherwise(
        F.col("top_c").cast("double") / F.col("n_bigrams")
    )
    # floor(x·1e6+0.5)/1e6: pure IEEE double ops, bit-identical across
    # engines (Spark HALF_UP on shortest-decimal vs DuckDB binary-double
    # ROUND diverge on half-points — the win_rank_pct lesson).
    return per_doc.select(
        "doc_id",
        "n_trigrams",
        qround(dup_frac).alias("dup_trigram_frac"),
        qround(top_share).alias("top_bigram_share"),
        ((dup_frac <= 0.2) & (top_share <= 0.18)).alias("pass_repetition"),
    )


@register(
    "llm_entropy_filter",
    oracle="""
WITH chars AS (
    -- length() (characters), NOT strlen() (bytes): must match Spark's
    -- length() on non-ASCII text; empty docs filtered on both sides
    -- (Spark's sequence(1,0) is [1,0], DuckDB's range(1,1) is empty).
    SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
                                         i -> substr(text, CAST(i AS INTEGER), 1))) AS ch
    FROM documents WHERE length(text) > 0
), counts AS (
    SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
), per_doc AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars_total,
           FLOOR((log2(CAST(SUM(c) AS DOUBLE))
                  - SUM(c * log2(CAST(c AS DOUBLE))) / SUM(c)) * 1000000 + 0.5) / 1000000 AS h_char
    FROM counts GROUP BY doc_id
)
SELECT doc_id, n_chars_total, h_char, h_char >= 3.0 AS pass_entropy
FROM per_doc
""",
)
def llm_entropy_filter(spark, sf_dir):
    """Character-entropy quality gate (the C4/RefinedWeb-style screen
    for binary junk, repeated-character spam, and gibberish): Shannon
    entropy of each doc's character distribution via the numerically
    stable H = log2(N) − Σ c·log2(c)/N — natural prose sits near ~4.2
    bits/char, degenerate content collapses toward 0. One explode to
    (doc, char) rows (bounded by doc length, partition-local) and two
    hash aggregates keyed on doc_id; identical double arithmetic both
    engines, so the entropy VALUE itself is hash-matched, not just a
    flag."""
    chars = (
        t(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)  # sequence(1,0) would be [1,0], not []
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")
            ).alias("ch"),
        )
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_chars_total"),
        qround(
            F.log2(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log2(F.col("c").cast("double"))) / F.sum("c")
        ).alias("h_char"),
    )
    return per_doc.select(
        "doc_id", "n_chars_total", "h_char", (F.col("h_char") >= 3.0).alias("pass_entropy")
    )


@register(
    "llm_mixture_balance",
    oracle=r"""
WITH d AS (
    SELECT source, lang,
           len(string_split_regex(trim(text), '\s+')) AS n_tok
    FROM documents
), g AS (
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM d GROUP BY source, lang
), tot AS (
    SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_tokens,
           CAST(COUNT(*) AS DOUBLE) AS n_groups
    FROM g
)
SELECT source, lang, n_docs, n_tokens,
       FLOOR(n_tokens / tot_tokens * 1000000 + 0.5) / 1000000 AS actual_share,
       FLOOR(1.0 / n_groups * 1000000 + 0.5) / 1000000 AS target_share,
       FLOOR(LEAST((1.0 / n_groups) / (n_tokens / tot_tokens), 4.0) * 1000000 + 0.5) / 1000000 AS sample_weight
FROM g, tot
""",
)
def llm_mixture_balance(spark, sf_dir):
    """Training-mixture rebalancing — the per-(source, language) sampling
    weights that reshape a crawled corpus toward a target mixture (here:
    uniform over groups, the common starting point before hand-tuned
    mixture ratios). actual_share is each group's token share;
    sample_weight = target/actual capped at 4.0 (never upsample a tiny
    group unboundedly). One corpus-sized hash aggregate on (source,
    lang) + one broadcast scalar — the group table is vocabulary-sized,
    so at 100 TB the only data-sized cost is the map-side token count.
    Shares are rounded with the bit-identical floor(x·1e6+0.5)/1e6 form
    on both engines."""
    d = t(spark, sf_dir, "documents").select(
        "source", "lang", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok")
    )
    # Materialize the vocabulary-sized group table: it feeds both the
    # corpus-total scalar and the final share projection, and without
    # this the corpus tokenize+aggregate pass runs once per consumer
    # (caught by the duplicate-scan plan sweep).
    g = ckpt(d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    ))
    actual = F.col("n_tokens") / F.col("tot_tokens")
    target = F.lit(1.0) / F.col("n_groups")
    return with_stats(
        g,
        F.sum("n_tokens").cast("double").alias("tot_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_groups"),
    ).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        qround(actual).alias("actual_share"),
        qround(target).alias("target_share"),
        qround(F.least(target / actual, F.lit(4.0))).alias("sample_weight"),
    )


@register(
    "llm_winnow_fingerprint",
    oracle=r"""
WITH base AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents
), kg AS (
    SELECT doc_id,
           list_transform(range(1, len(w) - 1),
                          i -> md5(w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS kgs
    FROM base WHERE len(w) >= 3
), fp AS (
    SELECT doc_id, CAST(len(kgs) AS BIGINT) AS n_kgrams,
           CASE WHEN len(kgs) >= 4
                THEN list_transform(range(1, len(kgs) - 2),
                                    i -> list_aggregate(list_slice(kgs, i, i + 3), 'min'))
                ELSE [list_aggregate(kgs, 'min')] END AS fps
    FROM kg
)
SELECT doc_id, n_kgrams,
       CAST(len(list_distinct(fps)) AS BIGINT) AS n_fingerprints,
       array_to_string(list_slice(list_sort(list_distinct(fps)), 1, 3), ',') AS fp_head
FROM fp
""",
)
def llm_winnow_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm) — the substring-level dedup/contamination primitive
    that suffix arrays give exactly and Spark can't afford: hash every
    3-word k-gram, then keep the MINIMUM hash of each sliding window of
    4 k-grams. Guarantees any shared run ≥ 6 words yields at least one
    shared fingerprint, at ~1/4 the stored hashes. Entirely narrow
    per-doc array math in codegen — zero shuffles; a downstream
    fingerprint equi-join (the llm_contamination shape) finds candidate
    substring matches. md5 (not xxhash) so the fingerprints are
    bit-identical on both engines; windows shorter than 4 degrade to
    one whole-doc fingerprint on both sides."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w")
    ).filter(F.size("w") >= 3)
    kg = d.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(w) - 2),"
            " i -> md5(concat_ws(' ', element_at(w, i), element_at(w, i + 1),"
            " element_at(w, i + 2))))"
        ).alias("kgs"),
    )
    fp = kg.select(
        "doc_id",
        F.size("kgs").cast("bigint").alias("n_kgrams"),
        F.when(
            F.size("kgs") >= 4,
            F.expr("transform(sequence(1, size(kgs) - 3), i -> array_min(slice(kgs, i, 4)))"),
        )
        .otherwise(F.array(F.array_min("kgs")))
        .alias("fps"),
    )
    return fp.select(
        "doc_id",
        "n_kgrams",
        F.size(F.array_distinct("fps")).cast("bigint").alias("n_fingerprints"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct("fps")), 1, 3), ","
        ).alias("fp_head"),
    )


@register(
    "llm_embed_quantize",
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings
), s AS (
    SELECT vec_id, emb,
           GREATEST(list_aggregate(list_transform(emb, x -> abs(x)), 'max'), 1e-12) / 127.0 AS scale
    FROM e
), q AS (
    SELECT vec_id, emb, scale,
           list_transform(emb, x -> FLOOR(x / scale + 0.5)) AS codes
    FROM s
)
SELECT vec_id,
       CAST(len(emb) AS BIGINT) AS n_dims,
       FLOOR(scale * 1000000 + 0.5) / 1000000 AS scale_q,
       CAST(list_aggregate(codes, 'sum') AS BIGINT) AS q_checksum,
       FLOOR(list_aggregate(
               list_transform(range(1, len(emb) + 1),
                              i -> (emb[i] - codes[i] * scale) * (emb[i] - codes[i] * scale)),
               'sum') / len(emb) * 1000000 + 0.5) / 1000000 AS mse
FROM q
""",
)
def llm_embed_quantize(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column — the
    4× storage/bandwidth cut every 100 TB ANN index takes before IVF/PQ:
    per-vector scale = max|x|/127, codes = round(x/scale), plus the
    reconstruction MSE that monitors quantization loss. Entirely narrow
    array arithmetic in whole-stage codegen (no shuffle, no Python);
    code rounding uses floor(x+0.5) so Spark and DuckDB produce
    bit-identical int8 codes, and the checksum/MSE hash-verify the
    whole codebook, not just its shape."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    s = e.select(
        "vec_id",
        "emb",
        (
            F.greatest(
                F.expr("aggregate(emb, 0D, (a, x) -> greatest(a, abs(x)))"),
                F.lit(1e-12),
            )
            / F.lit(127.0)
        ).alias("scale"),
    )
    q = s.select(
        "vec_id",
        "emb",
        "scale",
        F.expr("transform(emb, x -> floor(x / scale + 0.5))").alias("codes"),
    )
    return q.select(
        "vec_id",
        F.size("emb").cast("bigint").alias("n_dims"),
        qround(F.col("scale")).alias("scale_q"),
        F.expr("aggregate(codes, 0L, (a, x) -> a + cast(x as long))").alias("q_checksum"),
        qround(
            F.expr(
                "aggregate(zip_with(emb, codes, (x, c) -> (x - c * scale) * (x - c * scale)),"
                " 0D, (a, x) -> a + x)"
            )
            / F.size("emb")
        ).alias("mse"),
    )


# ------------------------------------------------- pure-SQL MinHash banding

_KM_M = 4503599627370496  # 2^52


def _km_bases(sets):
    """``sets`` plus ``xs``: the Kirsch–Mitzenmacher hash bases of each
    shingle in ``sarr``. ONE md5 per shingle supplies two 52-bit integers
    (x1, x2|1); md5-derived integers are bit-identical across engines."""
    return sets.withColumn(
        "xs",
        F.expr(
            "transform(sarr, s -> named_struct("
            " 'x1', cast(conv(substr(md5(s), 1, 13), 16, 10) as bigint),"
            " 'x2', cast(conv(substr(md5(s), 17, 13), 16, 10) as bigint) | 1L))"
        ),
    )


def _km_signature():
    """The array ``h`` of 8 min-hashes over ``xs`` (:func:`_km_bases`):
    seeded hash_i = (x1 + i·x2) mod 2^52, i = 0..7. 52-bit pieces keep
    i·x2 ≤ 7·2^52 < 2^63 — no int64 overflow on either engine. Compute
    it over checkpointed bases: inlined into the seed lambda, each
    shingle's md5 would be recomputed for every seed."""
    return F.expr(
        f"transform(sequence(0, 7), i -> "
        f"array_min(transform(xs, p -> (p.x1 + i * p.x2) % {_KM_M}L)))"
    )


@register(
    "llm_dedup_minhash_sql",
    oracle=r"""
WITH base AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
    FROM documents
), base3 AS (
    SELECT * FROM base WHERE len(words) >= 3
), shl AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - 1),
                  i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS sarr
    FROM base3
), xs AS (
    SELECT doc_id, sarr, CAST(len(sarr) AS BIGINT) AS sz,
           list_transform(sarr, s -> CAST(('0x' || substr(md5(s), 1, 13)) AS BIGINT)) AS x1,
           list_transform(sarr, s -> CAST(('0x' || substr(md5(s), 17, 13)) AS BIGINT) | 1) AS x2
    FROM shl
), sig AS (
    SELECT doc_id, sarr, sz,
           list_aggregate(list_transform(range(1, sz + 1), j -> (x1[j] + 0 * x2[j]) % 4503599627370496), 'min') AS h0,
           list_aggregate(list_transform(range(1, sz + 1), j -> (x1[j] + 1 * x2[j]) % 4503599627370496), 'min') AS h1,
           list_aggregate(list_transform(range(1, sz + 1), j -> (x1[j] + 2 * x2[j]) % 4503599627370496), 'min') AS h2,
           list_aggregate(list_transform(range(1, sz + 1), j -> (x1[j] + 3 * x2[j]) % 4503599627370496), 'min') AS h3,
           list_aggregate(list_transform(range(1, sz + 1), j -> (x1[j] + 4 * x2[j]) % 4503599627370496), 'min') AS h4,
           list_aggregate(list_transform(range(1, sz + 1), j -> (x1[j] + 5 * x2[j]) % 4503599627370496), 'min') AS h5,
           list_aggregate(list_transform(range(1, sz + 1), j -> (x1[j] + 6 * x2[j]) % 4503599627370496), 'min') AS h6,
           list_aggregate(list_transform(range(1, sz + 1), j -> (x1[j] + 7 * x2[j]) % 4503599627370496), 'min') AS h7
    FROM xs
), bands AS (
    SELECT doc_id, b.b AS band_id,
           CASE b.b WHEN 0 THEN h0 WHEN 1 THEN h2 WHEN 2 THEN h4 ELSE h6 END AS bx,
           CASE b.b WHEN 0 THEN h1 WHEN 1 THEN h3 WHEN 2 THEN h5 ELSE h7 END AS by
    FROM sig, (SELECT unnest(range(0, 4)) AS b) b
), pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.bx = b.bx AND a.by = b.by
                AND a.doc_id < b.doc_id
), rescored AS (
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_intersect(sa.sarr, sb.sarr)) AS DOUBLE) AS n_common,
           sa.sz AS sz_a, sb.sz AS sz_b
    FROM pairs p
    JOIN sig sa ON p.doc_a = sa.doc_id
    JOIN sig sb ON p.doc_b = sb.doc_id
)
SELECT doc_a, doc_b,
       FLOOR(n_common / (sz_a + sz_b - n_common) * 1000000 + 0.5) / 1000000 AS jaccard,
       n_common / (sz_a + sz_b - n_common) >= 0.4 AS is_dup
FROM rescored
""",
)
def llm_dedup_minhash_sql(spark, sf_dir):
    """MinHash banding near-dup detection as PURE whole-stage-codegen SQL
    — no MLlib, no Python, no driver round-trips: the shape a 100 TB
    near-dup pass actually runs.

    8 min-hashes over distinct 3-word shingles via Kirsch–Mitzenmacher
    double hashing: ONE md5 per shingle supplies two 52-bit integers
    (x1, x2|1); seeded hash_i = (x1 + i·x2) mod 2^52 — the standard
    two-base construction, so the whole family costs one string hash.
    min() is duplicate-insensitive, so the signature (array_distinct →
    array_min over a transform) is computed PER DOC inside one narrow
    projection: ZERO shuffles until the band join itself, and the 4×2
    banding joins on (band_id, h_even, h_odd) — two BIGINTs, not hash
    strings, so the only corpus-sized exchange carries 4 × 20-byte rows
    per doc. Candidates are EXACT-rescored with array_intersect on the
    two shingle arrays brought in by a pair-key join — pure codegen,
    no shingle re-explode. Banding math: P(candidate) = 1-(1-J²)⁴,
    ≈ 0.50 at J = 0.4, ≈ 0.97 at J = 0.7. md5-derived integers are
    bit-identical across engines, so the oracle twin is EXACT, not an
    anchor: the only near-dup operator whose full pair set value-hashes
    against the oracle. 52-bit pieces keep i·x2 ≤ 7·2^52 < 2^63 —
    no int64 overflow on either engine."""
    # Per-doc distinct shingle array + its (x1, x2) hash bases; one md5
    # per shingle, materialized once (this is the persisted index
    # artifact in production — same rationale as the MinHashLSH
    # signature checkpoint in raw_dedup_fuzzy).
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    doc_sh = ckpt(_km_bases(_shingle_sets(docs, F.lower(F.trim("text")))))
    sig = doc_sh.select("doc_id", _km_signature().alias("h"))
    band_arr = F.array(
        *[
            F.struct(
                F.element_at("h", 2 * b + 1).alias("bx"),
                F.element_at("h", 2 * b + 2).alias("by"),
            )
            for b in range(4)
        ]
    )
    bands = sig.select(
        "doc_id", F.posexplode(band_arr).alias("band_id", "bxy")
    ).select("doc_id", "band_id", F.col("bxy.bx").alias("bx"), F.col("bxy.by").alias("by"))
    pa = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "bx", "by")
    pb = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "bx", "by")
    pairs = (
        pa.join(pb, ["band_id", "bx", "by"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = doc_sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sarr").alias("s_a"), F.col("sz").alias("sz_a")
    )
    sb = doc_sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sarr").alias("s_b"), F.col("sz").alias("sz_b")
    )
    n_common = F.size(F.array_intersect("s_a", "s_b")).cast("double")
    jac = n_common / (F.col("sz_a") + F.col("sz_b") - n_common)
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            qround(jac).alias("jaccard"),
            (jac >= 0.4).alias("is_dup"),
        )
    )


# ----------------------------------------------------------------- SemDeDup

@register(
    "llm_semdedup",
    oracle=f"""
WITH sig AS (
    SELECT vec_id, embedding, {_SIGN_BUCKET_DUCK} AS bucket
    FROM embeddings
), pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id,
         generate_series(1, 64) g(i)
    GROUP BY 1, 2
    HAVING ROUND(
             SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE))
             / (SQRT(SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(a.embedding[g.i] AS DOUBLE)))
                * SQRT(SUM(CAST(b.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE)))),
             6) >= 0.3
), dropped AS (
    SELECT DISTINCT vec_b AS vec_id FROM pairs
)
SELECT s.vec_id, s.bucket, d.vec_id IS NULL AS is_kept
FROM sig s LEFT JOIN dropped d ON s.vec_id = d.vec_id
""",
)
def llm_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) — semantic dedup over the embedding
    column with an explicit KEEP/DROP policy, not just pair detection:
    bucket by deterministic sign-bit hyperplanes (the oracle-expressible
    stand-in for the paper's k-means cells; same blocking bound — pair
    work is sum over buckets of |b|², never n²), exact-cosine within
    the bucket, and greedily keep the LOWEST vec_id of every near-dup
    pair (a pair survivor policy that needs no iterative connected
    components — each drop decision is one local pair test, so the
    whole op is two hash shuffles). At 100 TB the bucket bit-count
    grows as log2(n / target_bucket_size) and the per-bucket quadratic
    term stays constant."""
    e = t(spark, sf_dir, "embeddings")
    sig = e.select("vec_id", "embedding", F.expr(_SIGN_BUCKET_SPARK).alias("bucket"))
    a = sig.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("qe"),
        _emb_norm().alias("na"),
        "bucket",
    )
    b = sig.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("ce"),
        _emb_norm().alias("nb"),
        "bucket",
    )
    cos = F.round(F.expr(_DOT) / (F.col("na") * F.col("nb")), 6)
    dropped = (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.3)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return sig.join(dropped, "vec_id", "left").select(
        "vec_id",
        "bucket",
        F.col("is_dropped").isNull().alias("is_kept"),
    )


# ------------------------------------------------------- perplexity filter

@register(
    "llm_perplexity_filter",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0
), words AS (
    SELECT doc_id, unnest(w) AS word FROM docs
), vocab AS (
    SELECT word, COUNT(*) AS c FROM words GROUP BY word
), corpus AS (
    SELECT SUM(c) AS n, COUNT(*) AS v FROM vocab
), nll AS (
    SELECT w.doc_id,
           COUNT(*) AS n_words,
           SUM(-log2((vocab.c + 1.0) / (corpus.n + corpus.v))) / COUNT(*) AS h
    FROM words w JOIN vocab USING (word), corpus
    GROUP BY w.doc_id
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       FLOOR(h * 1000000 + 0.5) / 1000000 AS cross_entropy,
       h <= 9.0 AS is_kept
FROM nll
""",
)
def llm_perplexity_filter(spark, sf_dir):
    """Unigram-LM perplexity filter — the CCNet/Gopher-style quality
    gate: train an add-one-smoothed unigram LM on the corpus itself
    (one word-count aggregation), score every document by its mean
    cross-entropy −(1/|d|)·Σ log2 p(w), and keep documents under a
    bits-per-word ceiling (high-perplexity docs are gibberish/noise;
    suspiciously low ones are boilerplate). Two shuffles total: the
    vocab count and the per-doc mean. The scoring join broadcasts the
    vocab only when its MEASURED row count is small (the LM artifact is
    already materialized, so the count is free) — a closed per-language
    vocab broadcasts; an open 100 TB web-corpus vocab would OOM an
    unconditional broadcast hint, so past the bound the hint is dropped
    and AQE's runtime shuffle stats pick the join strategy."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w"))
    )
    words = docs.select("doc_id", F.explode("w").alias("word"))
    # The vocab LM is the persisted model artifact: materialize it once —
    # it feeds both the corpus-total scalar and the scoring join, and
    # without this the tokenize→explode→count pass over the corpus runs
    # twice (caught by the duplicate-scan plan sweep).
    vocab = ckpt(
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    corpus = vocab.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    nll_word = -F.log2((F.col("c") + F.lit(1.0)) / (F.col("n") + F.col("v")))
    h = F.sum(nll_word) / F.count(F.lit(1))
    # Open-vocab sizing (ADVICE r4 → r6 verdict item 5): no forced
    # broadcast hint and no count() pre-job to pick one — AQE's runtime
    # shuffle stats convert the join to broadcast-hash when the measured
    # vocab side fits (autoBroadcastJoinThreshold), and leave it a
    # shuffle join when a web-scale vocabulary exceeds executor memory.
    return (
        words.join(vocab, "word")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            qround(h).alias("cross_entropy"),
            (h <= 9.0).alias("is_kept"),
        )
    )


# ------------------------------------------------ composed corpus pipeline

@register(
    "llm_cc_pipeline",
    oracle=r"""
WITH scored AS (
    SELECT doc_id, lang, source, n_chars,
           len(string_split_regex(lower(trim(text)), '\s+')) AS n_words,
           md5(lower(trim(text))) AS content_hash
    FROM documents
), gated AS (
    SELECT * FROM scored
    WHERE n_words >= 20 AND n_chars BETWEEN 100 AND 5000
      AND lang IN ('en', 'de', 'fr', 'es')
), deduped AS (
    SELECT * FROM gated
    QUALIFY ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) = 1
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
FROM deduped GROUP BY 1, 2
""",
)
def llm_cc_pipeline(spark, sf_dir):
    """The composed corpus-cleanup pipeline (CommonCrawl-style): quality
    gate (word/char bounds) → language filter → exact dedup (keep
    lowest doc_id per normalized-content hash) → per-(lang, source)
    mixture summary. One end-to-end query showing the operators
    compose: the gate and language filter are scan-level predicates
    (pushed below everything), dedup is one hash shuffle on the
    content hash, and the summary is one partial-aggregated rollup —
    three narrow stages regardless of corpus size. The per-source
    token totals are exactly what llm_mixture_balance consumes
    upstream of sampling."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("n_words"),
        F.md5(F.lower(F.trim("text"))).alias("content_hash"),
    )
    gated = d.filter(
        (F.col("n_words") >= 20)
        & F.col("n_chars").between(100, 5000)
        & F.col("lang").isin("en", "de", "fr", "es")
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    deduped = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return deduped.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_words").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars_total"),
    )


# ------------------------------------------- deterministic weighted sampling

@register(
    "llm_sample_weighted",
    oracle=r"""
WITH tok AS (
    SELECT doc_id, source,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
    FROM documents
), src AS (
    SELECT source, SUM(n_tokens) AS src_tokens FROM tok GROUP BY source
), tot AS (
    SELECT CAST(SUM(src_tokens) AS DOUBLE) AS all_tokens,
           CAST(COUNT(*) AS DOUBLE) AS n_sources
    FROM src
), w AS (
    SELECT source,
           LEAST((1.0 / n_sources) / (src_tokens / all_tokens), 1.0) AS keep_w
    FROM src, tot
)
SELECT t.doc_id, t.source,
       FLOOR(w.keep_w * 1000000 + 0.5) / 1000000 AS keep_w,
       CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
         / 4503599627370496.0 < w.keep_w AS is_sampled
FROM tok t JOIN w ON t.source = w.source
""",
)
def llm_sample_weighted(spark, sf_dir):
    """Deterministic mixture-weighted down-sampling — the step that
    actually APPLIES llm_mixture_balance's weights: per-source keep
    probability = capped target/actual token share, and each document
    draws its uniform from its own id (u = first 52 bits of
    md5(doc_id) / 2^52), so the sample is reproducible run-over-run,
    engine-independent (bit-identical md5 + exact dyadic division on
    both sides — the oracle twin value-hashes the full keep/drop
    vector, unlike seeded engine RNG sampling), and embarrassingly
    parallel: membership is a narrow per-row expression, the only
    shuffle is the per-source token aggregate that is broadcast back.
    At 100 TB: re-running the pipeline or adding late files never
    changes which surviving docs were kept."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.lower(F.trim("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    # Materialize the per-source totals (tiny): they feed both the
    # corpus-total scalar and the weight table — without this the
    # corpus tokenize+aggregate pass re-runs per consumer.
    src = ckpt(
        tok.groupBy("source")
        .agg(F.sum("n_tokens").alias("src_tokens"))
    )
    w = with_stats(
        src,
        F.sum("src_tokens").cast("double").alias("all_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    ).select(
        "source",
        F.least(
            (F.lit(1.0) / F.col("n_sources"))
            / (F.col("src_tokens") / F.col("all_tokens")),
            F.lit(1.0),
        ).alias("keep_w"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
        / F.lit(4503599627370496.0)  # 2^52: 13 hex chars, exactly double-representable
    )
    return tok.join(F.broadcast(w), "source").select(
        "doc_id",
        "source",
        qround(F.col("keep_w")).alias("keep_w"),
        (u < F.col("keep_w")).alias("is_sampled"),
    )


# ---------------------------------------------------- incremental dedup

@register(
    "llm_dedup_incremental",
    oracle="""
WITH hashed AS (
    SELECT doc_id, md5(lower(trim(text))) AS content_hash,
           doc_id % 2 = 0 AS in_index
    FROM documents
), index_hashes AS (
    SELECT DISTINCT content_hash FROM hashed WHERE in_index
), batch AS (
    SELECT doc_id, content_hash,
           ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
    FROM hashed WHERE NOT in_index
)
SELECT b.doc_id, b.content_hash,
       CASE WHEN i.content_hash IS NOT NULL THEN 'dup_of_index'
            WHEN b.rn > 1 THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM batch b LEFT JOIN index_hashes i ON b.content_hash = i.content_hash
""",
)
def llm_dedup_incremental(spark, sf_dir):
    """Incremental corpus dedup — the daily-ingest shape: an arriving
    batch (odd doc_ids stand in for today's crawl) is deduped against
    the persisted content-hash INDEX of everything already accepted
    (even doc_ids), and within itself, in one pass. Classifications:
    'dup_of_index' (hash-join hit against the index), 'dup_in_batch'
    (not the min doc_id of its hash within the batch), 'new'
    (survivor — exactly the rows that append to the index). At 100 TB
    the index is the operator's state: it lives bucketed by
    content_hash, so the index probe is a co-partitioned join with no
    index-side shuffle, the batch side shuffles only its own day of
    data, and the 'new' output is appended back to the same bucketing
    — the incremental cost never re-touches history."""
    hashed = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("content_hash"),
        (F.col("doc_id") % 2 == 0).alias("in_index"),
    )
    index_hashes = (
        hashed.filter("in_index").select("content_hash").distinct()
        .withColumn("hit", F.lit(True))
    )
    wb = Window.partitionBy("content_hash").orderBy("doc_id")
    batch = (
        hashed.filter(~F.col("in_index"))
        .withColumn("rn", F.row_number().over(wb))
    )
    return batch.join(index_hashes, "content_hash", "left").select(
        "doc_id",
        "content_hash",
        F.when(F.col("hit").isNotNull(), "dup_of_index")
        .when(F.col("rn") > 1, "dup_in_batch")
        .otherwise("new")
        .alias("status"),
    )


# -------------------------------------------------- reciprocal-rank fusion

_D2 = (
    "aggregate(zip_with(qe, ce, (x, y) -> (cast(x as double) - cast(y as double))"
    " * (cast(x as double) - cast(y as double))), 0D, (a, x) -> a + x)"
)


@register(
    "llm_rank_fusion",
    oracle="""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(
               SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE))
               / (SQRT(SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(q.embedding[g.i] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE)))),
               6) AS cos_sim,
           ROUND(SUM((CAST(q.embedding[g.i] AS DOUBLE) - CAST(c.embedding[g.i] AS DOUBLE))
                     * (CAST(q.embedding[g.i] AS DOUBLE) - CAST(c.embedding[g.i] AS DOUBLE))), 6) AS l2_d2
    FROM q, embeddings c, generate_series(1, 64) g(i)
    WHERE c.vec_id <> q.vec_id
    GROUP BY 1, 2
), ranked AS (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank_cos,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY l2_d2 ASC, neighbor_id) AS rank_l2
    FROM pairs
), fused AS (
    SELECT query_id, neighbor_id, rank_cos, rank_l2,
           1.0 / (60 + rank_cos) + 1.0 / (60 + rank_l2) AS rrf
    FROM ranked
), top AS (
    SELECT query_id, neighbor_id, rank_cos, rank_l2, rrf,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS fused_rank
    FROM fused
)
SELECT query_id, neighbor_id, rank_cos, rank_l2,
       FLOOR(rrf * 1000000 + 0.5) / 1000000 AS rrf,
       fused_rank
FROM top WHERE fused_rank <= 5
""",
)
def llm_rank_fusion(spark, sf_dir):
    """Hybrid-retrieval reciprocal-rank fusion (Cormack et al. 2009):
    two independent rankers over the same broadcast query set — exact
    cosine and L2 distance — fused as Σ 1/(60 + rank_i), top-5 per
    query. The fusion layer is rank-arithmetic only (exact integer
    ratios, bit-identical across engines), so unlike score averaging it
    needs no score normalization between rankers; both metrics come out
    of ONE pass over the candidate pairs (one zip_with each, JVM
    codegen), and the two rank windows + fusion window all share the
    same query_id partitioning — one shuffle total after the broadcast
    join. The production shape: swap either ranker for a BM25/ANN
    candidate list and the fusion plan is unchanged."""
    pairs = _query_pairs(spark, sf_dir).select(
        "query_id", "neighbor_id", "cos_sim", F.round(F.expr(_D2), 6).alias("l2_d2")
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    w_l2 = Window.partitionBy("query_id").orderBy(F.asc("l2_d2"), F.asc("neighbor_id"))
    ranked = pairs.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w_cos).alias("rank_cos"),
        F.row_number().over(w_l2).alias("rank_l2"),
    )
    rrf = F.lit(1.0) / (F.lit(60) + F.col("rank_cos")) + F.lit(1.0) / (
        F.lit(60) + F.col("rank_l2")
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf_raw"), F.asc("neighbor_id"))
    return (
        ranked.withColumn("rrf_raw", rrf)
        .withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "rank_cos",
            "rank_l2",
            qround(F.col("rrf_raw")).alias("rrf"),
            "fused_rank",
        )
    )


# ----------------------------------------------------------------- BM25

_BM25_TERMS = ("spark", "table", "query", "batch")


@register(
    "llm_bm25",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents
), stats AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
           AVG(CAST(len(w) AS DOUBLE)) AS avgdl
    FROM docs
), tf AS (
    SELECT d.doc_id, t.term,
           CAST(len(list_filter(d.w, x -> x = t.term)) AS DOUBLE) AS f,
           CAST(len(d.w) AS DOUBLE) AS dl
    FROM docs d, (VALUES ('spark'), ('table'), ('query'), ('batch')) t(term)
), df AS (
    SELECT term, CAST(COUNT(*) FILTER (WHERE f > 0) AS DOUBLE) AS df
    FROM tf GROUP BY term
), scored AS (
    SELECT tf.doc_id,
           SUM(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl / s.avgdl))) AS score
    FROM tf JOIN df USING (term), stats s
    WHERE f > 0
    GROUP BY tf.doc_id
), ranked AS (
    SELECT doc_id, FLOOR(score * 1000000 + 0.5) / 1000000 AS bm25,
           ROW_NUMBER() OVER (ORDER BY FLOOR(score * 1000000 + 0.5) / 1000000 DESC,
                              doc_id) AS rank
    FROM scored
)
SELECT doc_id, bm25, rank FROM ranked WHERE rank <= 10
""",
)
def llm_bm25(spark, sf_dir):
    """Exact BM25 retrieval (k1 = 1.2, b = 0.75) for a fixed conjunctive
    query over the corpus — the lexical ranker llm_rank_fusion's RRF
    layer is built to fuse with the embedding rankers. Term frequencies
    come from a narrow per-doc array_filter (no explode of the whole
    corpus for a 4-term query); document frequencies and avgdl are two
    broadcast scalars/tiny tables; the score is one grouped sum per
    matching doc. Ranking happens on the floor-rounded score so the
    cross-engine ln() ulp cannot reorder ties — remaining ties break on
    doc_id. At 100 TB with an open vocabulary the same plan runs off a
    posting-list table (llm_tfidf's explode output) instead of
    array_filter; the per-query shape here never touches it."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w")
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("w").cast("double")).alias("avgdl"),
    )
    terms = F.array(*[F.lit(x) for x in _BM25_TERMS])
    tf = (
        d.select(
            "doc_id",
            F.size("w").cast("double").alias("dl"),
            F.explode(terms).alias("term"),
            "w",
        )
        .select(
            "doc_id",
            "term",
            F.expr("cast(size(filter(w, x -> x = term)) as double)").alias("f"),
            "dl",
        )
    )
    df = tf.groupBy("term").agg(
        F.count(F.when(F.col("f") > 0, 1)).cast("double").alias("df")
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    term_score = idf * F.col("f") * 2.2 / (
        F.col("f") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.filter(F.col("f") > 0)
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    w_r = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.select("doc_id", qround(F.col("score")).alias("bm25"))
        .withColumn("rank", F.row_number().over(w_r))
        .filter(F.col("rank") <= 10)
    )


# ----------------------------------------------- exact-substring dedup

@register(
    "llm_dedup_substring",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 8
), wins AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(w) - 6),
                  i -> array_to_string(w[i:i + 7], ' ')))) AS win
    FROM docs
), freq AS (
    SELECT win FROM wins GROUP BY win
    HAVING COUNT(*) BETWEEN 2 AND 16
), hits AS (SELECT w.doc_id, w.win FROM wins w JOIN freq USING (win))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_runs
FROM hits a JOIN hits b ON a.win = b.win AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
)
def llm_dedup_substring(spark, sf_dir):
    """Exact-substring duplicate detection (Lee et al. 2022's
    "Deduplicating Training Data Makes Language Models Better", the
    suffix-array pass) re-expressed relationally: every 8-token window
    of every document is a join key; documents sharing a window share a
    verbatim ≥8-token run. Two scale guards make this the plan you'd
    run at 100 TB: (1) windows are DISTINCT per doc before joining, and
    (2) windows appearing in more than 16 documents are dropped
    (boilerplate — the suffix-array equivalent keeps them out of the
    pair expansion the same way stop-shingles are dropped in MinHash
    pipelines; the frequency gate is one hash aggregate, and the
    surviving join's fan-out is bounded by 16²). Output: doc pairs with
    their shared-run count."""
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w"))
        .filter(F.size("w") >= 8)
    )
    # The window table feeds three consumers (frequency gate + both join
    # sides) — materialize the tokenize→window pass once instead of
    # re-deriving the corpus explode per consumer. At production scale
    # this is the suffix-table artifact you'd persist to disk.
    wins = ckpt(
        docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 7),
                    lambda i: F.concat_ws(" ", F.slice("w", i, 8)),
                )
            ).alias("win"),
        )
        .distinct()
    )
    freq = (
        wins.groupBy("win")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= 16))
        .select("win")
    )
    hits = wins.join(freq, "win")
    a = hits.select(F.col("doc_id").alias("doc_a"), "win")
    b = hits.select(F.col("doc_id").alias("doc_b"), "win")
    return (
        a.join(b, "win")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_runs"))
    )


# ----------------------------------------------------------- kNN graph

@register(
    "llm_knn_graph",
    oracle=f"""
WITH sig AS (
    SELECT vec_id, embedding, {_SIGN_BUCKET_DUCK} AS bucket
    FROM embeddings
), pairs AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           ROUND(
             SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE))
             / (SQRT(SUM(CAST(a.embedding[g.i] AS DOUBLE) * CAST(a.embedding[g.i] AS DOUBLE)))
                * SQRT(SUM(CAST(b.embedding[g.i] AS DOUBLE) * CAST(b.embedding[g.i] AS DOUBLE)))),
             6) AS cos_sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id,
         generate_series(1, 64) g(i)
    GROUP BY 1, 2
)
SELECT vec_id, neighbor_id, cos_sim, rank FROM (
    SELECT vec_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM pairs
) WHERE rank <= 5
""",
)
def llm_knn_graph(spark, sf_dir):
    """k-NN graph (k = 5) over the embedding corpus — the backbone
    structure for cluster-based dedup (SemDeDup's within-cluster pass),
    diversity sampling, and label propagation. Candidates come from the
    deterministic sign-bucket blocking (never all-pairs); exact cosine
    within the bucket, JVM-side zip_with/aggregate arithmetic, and a
    per-node window top-5. Bucketed kNN trades recall at bucket edges
    for linear scaling — the bit-count is the scale knob, exactly as in
    llm_semdedup — and the oracle implements the SAME blocked
    semantics, so parity checks the real plan, not an idealized one."""
    e = t(spark, sf_dir, "embeddings")
    sig = e.select("vec_id", "embedding", F.expr(_SIGN_BUCKET_SPARK).alias("bucket"))
    a = sig.select(
        "bucket",
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("qe"),
        _emb_norm().alias("na"),
    )
    b = sig.select(
        "bucket",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        _emb_norm().alias("nb"),
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            F.round(F.expr(_DOT) / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


# ------------------------------------------------------------ Zipf fit

@register(
    "llm_zipf_fit",
    oracle=r"""
WITH words AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE length(trim(text)) > 0
), freq AS (
    SELECT word, COUNT(*) AS c FROM words GROUP BY word
), top AS (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rnk
    FROM freq QUALIFY rnk <= 100
), pts AS (
    SELECT FLOOR(ln(rnk) * 1000000000 + 0.5) / 1000000000 AS x,
           FLOOR(ln(c) * 1000000000 + 0.5) / 1000000000 AS y
    FROM top
), sums AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(FLOOR(x * y * 1000000000 + 0.5) / 1000000000
                         AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(FLOOR(x * x * 1000000000 + 0.5) / 1000000000
                         AS DECIMAL(38,12))) AS DOUBLE) AS sxx
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000 + 0.5) / 1000000
           AS zipf_slope,
       FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n * 1000000 + 0.5)
           / 1000000 AS zipf_intercept
FROM sums
""",
)
def llm_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus term distribution — the standard
    corpus-health diagnostic (natural text slopes ≈ −1; template/spam
    corpora deviate sharply). OLS of ln(freq) on ln(rank) over the
    top-100 terms: one word-count aggregate, one bounded top-k, then a
    closed-form slope from decimal-summed moments. Every ln() is
    half-up-quantized to 1e-9 before the moment sums (engine libm may
    differ in the last ulp), and the moments sum in DECIMAL(38,12), so
    both engines fit on bit-identical points. The top-100 restriction
    keeps the fit o(1) regardless of vocabulary size — at 100 TB the
    word count is the only corpus-sized pass."""
    words = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.desc("c"), F.asc("word"))
    top = freq.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 100)
    pts = top.select(
        qround(F.log(F.col("rnk").cast("double")), 9).alias("x"),
        qround(F.log(F.col("c").cast("double")), 9).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("x"), 12).alias("sx"),
        dsum(F.col("y"), 12).alias("sy"),
        dsum(qround(F.col("x") * F.col("y"), 9), 12).alias("sxy"),
        dsum(qround(F.col("x") * F.col("x"), 9), 12).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_terms"),
        qround(slope).alias("zipf_slope"),
        qround((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("zipf_intercept"),
    )


# --------------------------------------------------- keyword extraction

@register(
    "llm_keyword_extract",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0
), n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM docs),
tf AS (
    SELECT doc_id, unnest(w) AS term FROM docs
), tfc AS (
    SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tf GROUP BY 1, 2
), df AS (
    SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tfc GROUP BY term
), scored AS (
    SELECT t.doc_id, t.term,
           FLOOR(t.tf * FLOOR(ln((n.n + 1.0) / (d.df + 1.0)) * 1000000000 + 0.5)
                 / 1000000000 * 1000000 + 0.5) / 1000000 AS score
    FROM tfc t JOIN df d USING (term), n_docs n
), ranked AS (
    SELECT doc_id, term, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term) AS rnk
    FROM scored
)
SELECT doc_id, string_agg(term, ' ' ORDER BY rnk) AS keywords
FROM ranked WHERE rnk <= 3 GROUP BY doc_id
""",
)
def llm_keyword_extract(spark, sf_dir):
    """Per-document keyword extraction — top-3 TF-IDF terms, the cheap
    metadata tag a corpus pipeline attaches for search/mixture
    reporting. One explode→count pass for TF, one aggregate for DF
    (document frequency rides the same shuffle), smoothed IDF
    broadcast back, per-doc window top-3, keywords serialized
    space-joined (the agg_collect discipline: no raw arrays through
    the driver hash). The idf ln() is quantized at 1e-9 and the score
    at 1e-6 before ranking so cross-engine ties are impossible by
    construction; remaining equal-score ties break lexically."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # TF feeds both the DF aggregate and the scoring join — materialize
    # the explode→count pass once (duplicate-scan sweep discipline).
    tfc = ckpt(
        docs.select("doc_id", F.explode("w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df = ckpt(
        tfc.groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    idf = qround(F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 9)
    # Same open-vocab sizing as llm_perplexity_filter (r6 verdict item
    # 5): the DF table is full-vocabulary-sized, so no forced broadcast
    # hint and no count() pre-job — AQE's runtime shuffle stats convert
    # to broadcast-hash when the measured side fits, and keep a shuffle
    # join when an open web-scale vocabulary would not.
    scored = (
        tfc.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", qround(F.col("tf") * idf).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rnk"), F.col("term")))
                    ),
                    lambda s: s["term"],
                ),
                " ",
            ).alias("keywords")
        )
    )


# ------------------------------------------------ token-budget selection

@register(
    "llm_token_budget_trim",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, source, n_chars,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
    FROM documents WHERE length(trim(text)) > 0
), ranked AS (
    SELECT doc_id, source, n_tok,
           SUM(n_tok) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_tok
    FROM docs
)
SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok,
       cum_tok <= 3000 AS is_kept
FROM ranked
""",
)
def llm_token_budget_trim(spark, sf_dir):
    """Token-budget data selection — every mixture recipe ends with
    "keep the best N tokens per source": rank documents within their
    source by a quality proxy (length-first, id tiebreak — any scored
    ranking slots in), running-sum their token counts, keep while the
    cumulative total fits the per-source budget (3000 tokens here).
    One window pass partitioned by source — the budget cut is
    embarrassingly parallel across sources, which is exactly how a
    100 TB mixture build shards. Integer arithmetic end to end: the
    cut row is bit-determined, no float drift can move the boundary."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.size(F.split(F.lower(F.trim("text")), r"\s+")).cast("bigint").alias("n_tok"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return docs.select(
        "doc_id",
        "source",
        "n_tok",
        F.sum("n_tok").over(w).cast("bigint").alias("cum_tok"),
    ).withColumn("is_kept", F.col("cum_tok") <= 3000)


# --------------------------------------- importance resampling (DSIR-lite)

@register(
    "llm_importance_resample",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0
), words AS (
    SELECT doc_id, lang, unnest(w) AS word FROM docs
), corpus_lm AS (
    SELECT word, CAST(COUNT(*) AS DOUBLE) AS cc FROM words GROUP BY word
), target_lm AS (
    SELECT word, CAST(COUNT(*) AS DOUBLE) AS ct FROM words WHERE lang = 'en' GROUP BY word
), scal AS (
    SELECT (SELECT SUM(cc) FROM corpus_lm) AS nc,
           (SELECT COALESCE(SUM(ct), 0) FROM target_lm) AS nt,
           (SELECT CAST(COUNT(*) AS DOUBLE) FROM corpus_lm) AS v
), scored AS (
    SELECT w.doc_id, w.lang,
           COUNT(*) AS n_words,
           CAST(SUM(CAST(
               FLOOR(ln((COALESCE(t.ct, 0) + 1.0) / (s.nt + s.v)) * 1000000000 + 0.5)
                   / 1000000000
               - FLOOR(ln((c.cc + 1.0) / (s.nc + s.v)) * 1000000000 + 0.5)
                   / 1000000000 AS DECIMAL(38,12))) AS DOUBLE) AS lr_sum
    FROM words w
    JOIN corpus_lm c USING (word)
    LEFT JOIN target_lm t USING (word)
    CROSS JOIN scal s
    GROUP BY 1, 2
)
SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
       FLOOR(lr_sum / n_words * 1000000 + 0.5) / 1000000 AS importance,
       lr_sum / n_words >= 0.0 AS is_selected
FROM scored
""",
)
def llm_importance_resample(spark, sf_dir):
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"), the
    unigram form: score every document by the mean log-likelihood
    ratio between a TARGET-domain language model (here the English
    slice) and the general corpus model — documents that look more
    like the target than the background are kept. Two vocab
    aggregates share one tokenize pass; the per-word quantized log
    ratio joins back onto the word stream (vocabulary-sized build
    side); per-doc mean via DECIMAL sums. This is the 100 TB data-
    selection shape: LM build = two hash aggs, scoring = one join +
    one keyed agg over the token stream, no model server in the
    loop."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "lang", F.split(F.lower(F.trim("text")), r"\s+").alias("w"))
    )
    words = ckpt(docs.select("doc_id", "lang", F.explode("w").alias("word")))
    corpus_lm = ckpt(words.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("cc")
    ))
    target_lm = (
        words.filter(F.col("lang") == "en")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("double").alias("ct"))
    )
    scal = corpus_lm.agg(
        F.sum("cc").alias("nc"), F.count(F.lit(1)).cast("double").alias("v")
    ).crossJoin(
        target_lm.agg(F.coalesce(F.sum("ct"), F.lit(0.0)).alias("nt"))
    )
    lr = qround(
        F.log((F.coalesce("ct", F.lit(0.0)) + 1.0) / (F.col("nt") + F.col("v"))),
        9,
    ) - qround(F.log((F.col("cc") + 1.0) / (F.col("nc") + F.col("v"))), 9)
    scored = (
        words.join(corpus_lm, "word")
        .join(target_lm, "word", "left")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            dsum(lr, 12).alias("lr_sum"),
        )
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_words",
        qround(F.col("lr_sum") / F.col("n_words")).alias("importance"),
        (F.col("lr_sum") / F.col("n_words") >= 0.0).alias("is_selected"),
    )


# ------------------------------------------------- blocklist quality gate

_BLOCKLIST = ("spark", "error", "null")  # stand-in blocklist terms


@register(
    "llm_blocklist_filter",
    oracle=r"""
WITH docs AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0
)
SELECT doc_id,
       CAST(len(list_filter(w, x -> x IN ('spark', 'error', 'null'))) AS BIGINT)
           AS n_hits,
       CAST(len(w) AS BIGINT) AS n_words,
       FLOOR(CAST(len(list_filter(w, x -> x IN ('spark', 'error', 'null'))) AS DOUBLE)
             / len(w) * 1000000 + 0.5) / 1000000 AS hit_rate,
       len(list_filter(w, x -> x IN ('spark', 'error', 'null'))) = 0 AS is_kept
FROM docs
""",
)
def llm_blocklist_filter(spark, sf_dir):
    """C4-style blocklist gate — the "bad words" filter every public
    web-corpus pipeline runs (C4 dropped any page containing a
    blocklist term; RefinedWeb soft-scores instead — both readouts
    emitted here: hard is_kept plus the hit-rate for thresholding).
    Pure narrow array_filter per row against a broadcast-literal term
    set: no explode, no shuffle, scan-speed at any corpus size. With
    an open 10k-term blocklist the same plan swaps the IN-list for a
    broadcast join against the term table — the per-row shape is
    unchanged."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w"))
    )
    inlist = ", ".join(f"'{x}'" for x in _BLOCKLIST)
    hits = F.expr(f"size(filter(w, x -> x IN ({inlist})))")
    return docs.select(
        "doc_id",
        hits.cast("bigint").alias("n_hits"),
        F.size("w").cast("bigint").alias("n_words"),
        qround(hits.cast("double") / F.size("w")).alias("hit_rate"),
        (hits == 0).alias("is_kept"),
    )


@register(
    "llm_ngram_novelty",
    oracle=f"""
WITH grams AS (
    SELECT DISTINCT doc_id, unnest({_NGRAM_SH_DUCK}) AS g
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
          FROM documents WHERE length(trim(text)) > 0)
), firsts AS (
    SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
)
SELECT gr.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) FILTER (WHERE f.first_doc = gr.doc_id) AS BIGINT) AS n_novel,
       FLOOR(CAST(COUNT(*) FILTER (WHERE f.first_doc = gr.doc_id) AS DOUBLE)
             / COUNT(*) * 1000000 + 0.5) / 1000000 AS novelty
FROM grams gr JOIN firsts f ON f.g = gr.g
GROUP BY 1
""",
)
def llm_ngram_novelty(spark, sf_dir):
    """Per-document 3-gram novelty — the fraction of a doc's distinct
    word-trigrams whose FIRST corpus occurrence (min doc_id, the ingest
    order) is the doc itself. The streaming-corpus freshness signal: a
    doc full of already-seen trigrams is recombination, a high-novelty
    doc brings new text. Shuffle shape: one shingle set per doc,
    one min-aggregate per gram (the same key the probe join reuses —
    co-partitioned, no second fact shuffle), one per-doc count. The
    score is a ratio of integers, quantized half-up at 1e-6. Docs with
    < 3 words have no trigrams and are excluded on the cheap word-count
    guard, matching the oracle's empty-list behavior."""
    grams = _doc_shingles(spark, sf_dir).select("doc_id", F.explode("sarr").alias("g"))
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("bigint")
            .alias("n_novel"),
            qround(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("novelty"),
        )
    )


@register(
    "llm_template_prefix",
    oracle="""
WITH pref AS (
    SELECT doc_id, source,
           array_to_string(string_split_regex(lower(trim(text)), '\\s+')[1:10], ' ') AS prefix
    FROM documents WHERE length(trim(text)) > 0
), grp AS (
    SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           MIN(doc_id) AS exemplar_doc
    FROM pref GROUP BY prefix
)
SELECT prefix, n_docs, n_sources, exemplar_doc
FROM grp WHERE n_docs >= 2
""",
)
def llm_template_prefix(spark, sf_dir):
    """Template/boilerplate detection by shared 10-word prefix — the
    CCNet-style cheap pass that catches mirrored pages, form letters,
    and scraper templates before any expensive near-dup machinery: docs
    whose normalized openings coincide are template candidates. One
    projection (the prefix is a bounded slice, computed without
    exploding the text) and one group-by on the prefix string; emits
    only groups with ≥ 2 docs, with the earliest doc as exemplar —
    O(templates), not O(corpus), output."""
    pref = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            "source",
            F.array_join(
                F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 10), " "
            ).alias("prefix"),
        )
    )
    return (
        pref.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").alias("exemplar_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "llm_odds_ratio_terms",
    oracle=r"""
WITH words AS (
    SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE length(trim(text)) > 0 AND lang IN ('en', 'de')
), counts AS (
    SELECT word,
           CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_en,
           CAST(COUNT(*) FILTER (WHERE lang = 'de') AS BIGINT) AS n_de
    FROM words GROUP BY word
), tot AS (
    SELECT CAST(SUM(n_en) AS DOUBLE) AS t_en, CAST(SUM(n_de) AS DOUBLE) AS t_de,
           CAST(COUNT(*) AS DOUBLE) AS v
    FROM counts
), scored AS (
    SELECT word, n_en, n_de,
           FLOOR((ln((n_en + 0.5) / (tot.t_en - n_en + 0.5 * tot.v))
                  - ln((n_de + 0.5) / (tot.t_de - n_de + 0.5 * tot.v)))
                 * 1000000 + 0.5) / 1000000 AS log_odds
    FROM counts, tot
)
SELECT word, n_en, n_de, log_odds, rank FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY log_odds DESC, word) AS rank
    FROM scored
) WHERE rank <= 15
""",
)
def llm_odds_ratio_terms(spark, sf_dir):
    """Distinctive-term extraction via smoothed log-odds (the Monroe
    et al. "fightin' words" statistic, half-count smoothed): which words
    mark the en slice against the de slice. One tokenize→count pass
    produces the per-class counts on a single word-keyed shuffle; totals
    are a 1-row re-aggregate of the bounded vocab table; the log-odds is
    computed per vocab row and top-15 ranked (ties break on the word).
    The corpus-scale work is exactly one explode + one hash aggregate —
    the same shape at 100 TB, with the vocab table as the only state."""
    words = (
        t(spark, sf_dir, "documents")
        .filter((F.length(F.trim("text")) > 0) & F.col("lang").isin("en", "de"))
        .select("lang", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    )
    counts = ckpt(
        words.groupBy("word")
        .agg(
            F.sum((F.col("lang") == "en").cast("long")).cast("bigint").alias("n_en"),
            F.sum((F.col("lang") == "de").cast("long")).cast("bigint").alias("n_de"),
        )
    )
    lo = qround(
        F.log((F.col("n_en") + 0.5) / (F.col("t_en") - F.col("n_en") + 0.5 * F.col("v")))
        - F.log((F.col("n_de") + 0.5) / (F.col("t_de") - F.col("n_de") + 0.5 * F.col("v")))
    )
    scored = with_stats(
        counts,
        F.sum("n_en").cast("double").alias("t_en"),
        F.sum("n_de").cast("double").alias("t_de"),
        F.count(F.lit(1)).cast("double").alias("v"),
    ).select(
        "word", "n_en", "n_de", lo.alias("log_odds")
    )
    w = Window.orderBy(F.desc("log_odds"), F.asc("word"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 15)


@register(
    "llm_kn_bigram_lm",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0
), bgrows AS (
    SELECT doc_id, unnest(list_transform(range(1, len(w)),
                   i -> w[i] || ' ' || w[i + 1])) AS g
    FROM toks WHERE len(w) >= 2
), bgc AS (
    SELECT g, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
           CAST(COUNT(*) AS DOUBLE) AS c
    FROM bgrows GROUP BY 1, 2, 3
), ctx AS (
    SELECT w1, CAST(SUM(c) AS DOUBLE) AS c1, CAST(COUNT(*) AS DOUBLE) AS n1f
    FROM bgc GROUP BY 1
), cont AS (
    SELECT w2, CAST(COUNT(*) AS DOUBLE) AS n1p FROM bgc GROUP BY 1
), tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM bgc),
scored AS (
    SELECT r.doc_id,
           FLOOR(log2((GREATEST(b.c - 0.75, 0) / x.c1)
                      + (0.75 * x.n1f / x.c1) * (o.n1p / tt.t))
                 * 1000000000 + 0.5) / 1000000000 AS lp
    FROM bgrows r
    JOIN bgc b ON b.g = r.g
    JOIN ctx x ON x.w1 = b.w1
    JOIN cont o ON o.w2 = b.w2, tt
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       FLOOR(CAST(SUM(CAST(lp AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
             * 1000000 + 0.5) / 1000000 AS mean_log2p
FROM scored GROUP BY doc_id
""",
)
def llm_kn_bigram_lm(spark, sf_dir):
    """Kneser-Ney bigram LM scoring (absolute discounting d = 0.75) —
    the stronger sibling of llm_perplexity_filter's unigram gate and
    llm_unigram_lm: P(w2|w1) = max(c−d,0)/c(w1) + d·N1+(w1,·)/c(w1) ·
    N1+(·,w2)/N1+(·,·), the continuation-probability backoff that made
    KN the standard n-gram smoother. Fully relationalized: ONE
    tokenize→bigram pass is materialized and every LM table (bigram
    counts, context totals, follower/predecessor type counts, total
    types) is a re-aggregate of it, so the corpus scans once; scoring
    joins are keyed on the bigram/word columns the counts already
    shuffled by. Per-occurrence log2 probs quantized at 1e-9, DECIMAL-
    summed per doc, mean at 1e-6 — identical doubles on both engines
    (the probability expression is written with one parenthesization).
    Docs with < 2 words have no bigrams and drop out on the cheap
    word-count guard."""
    toks = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w"))
        .filter(F.size("w") >= 2)
    )
    bgrows = ckpt(
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"
                )
            ).alias("g"),
        )
    )
    bgc = ckpt(
        bgrows.groupBy("g")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .select(
            "g",
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
            "c",
        )
    )
    ctx = bgc.groupBy("w1").agg(
        F.sum("c").cast("double").alias("c1"),
        F.count(F.lit(1)).cast("double").alias("n1f"),
    )
    cont = bgc.groupBy("w2").agg(F.count(F.lit(1)).cast("double").alias("n1p"))
    tt = bgc.agg(F.count(F.lit(1)).cast("double").alias("t"))
    p = (F.greatest(F.col("c") - 0.75, F.lit(0.0)) / F.col("c1")) + (
        F.lit(0.75) * F.col("n1f") / F.col("c1")
    ) * (F.col("n1p") / F.col("t"))
    scored = (
        bgrows.join(bgc, "g")
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tt))
        .select("doc_id", qround(F.log2(p), 9).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        qround(
            dsum(F.col("lp"), 12)
            / F.count(F.lit(1))
        ).alias("mean_log2p"),
    )


@register(
    "llm_vocab_coverage",
    oracle=r"""
WITH words AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE length(trim(text)) > 0
), vocab AS (
    SELECT word FROM (
        SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS r
        FROM words GROUP BY word
    ) WHERE r <= 1000
)
SELECT w.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE v.word IS NOT NULL) AS BIGINT) AS n_in_vocab,
       FLOOR(1000000.0 * (COUNT(*) - COUNT(*) FILTER (WHERE v.word IS NOT NULL))
             / COUNT(*) + 0.5) / 1000000 AS oov_rate
FROM words w LEFT JOIN vocab v ON v.word = w.word
GROUP BY 1
""",
)
def llm_vocab_coverage(spark, sf_dir):
    """Tokenizer-vocabulary coverage — per-doc OOV rate against the
    top-1k corpus vocabulary, the number that sizes a tokenizer vocab
    (and the screen that catches encoding-mangled docs: their OOV rate
    spikes). One tokenize→count pass builds the frequency-ranked vocab
    (count-desc, word tiebreak — deterministic), which broadcasts back
    onto the same token stream for a membership flag; O(docs) output.
    The rank cut is on the BOUNDED vocab table, so the corpus never
    sorts globally."""
    words = ckpt(
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    )
    wv = Window.orderBy(F.desc("cnt"), F.asc("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") <= 1000)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    flagged = words.join(F.broadcast(vocab), "word", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.coalesce(F.col("in_vocab"), F.lit(False)).cast("long"))
        .cast("bigint")
        .alias("n_in_vocab"),
        qround(
            (
                F.count(F.lit(1))
                - F.sum(F.coalesce(F.col("in_vocab"), F.lit(False)).cast("long"))
            )
            * F.lit(1.0)
            / F.count(F.lit(1))
        ).alias("oov_rate"),
    )


@register(
    "llm_lang_confusion",
    oracle=f"""
WITH grams AS (
    SELECT doc_id, unnest(list_transform(range(1, len(text) - 1),
                   i -> substr(text, CAST(i AS INTEGER), 3))) AS g
    FROM documents
), profiles AS (
    SELECT d.lang, g.g, COUNT(*) AS c
    FROM grams g JOIN documents d USING (doc_id)
    GROUP BY 1, 2
), scores AS (
    SELECT g.doc_id, p.lang, ROUND(SUM(LN(1.0 + p.c)), 6) AS score
    FROM grams g JOIN profiles p ON g.g = p.g
    GROUP BY 1, 2
), ranked AS (
    SELECT doc_id, lang AS pred_lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM scores
), pairs AS (
    SELECT d.lang AS true_lang, r.pred_lang
    FROM ranked r JOIN documents d USING (doc_id) WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       FLOOR(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY true_lang)
             * 1000000 + 0.5) / 1000000 AS recall_share
FROM pairs GROUP BY 1, 2
""",
)
def llm_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix — the evaluation readout on top of
    llm_langid's trigram classifier: per (true, predicted) cell, doc
    count and the within-true-language share (the row-normalized recall
    view). The classifier pipeline is llm_langid's exactly (same
    profiles, same argmax tiebreak); this op adds only one bounded
    aggregate + one window over the ≤|langs|² cell table. The audit a
    corpus pipeline runs before trusting langid-based filtering."""
    pairs = llm_langid(spark, sf_dir).select("true_lang", "pred_lang")
    cells = pairs.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    wt = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        qround(F.col("n_docs") / F.sum("n_docs").over(wt)).alias("recall_share"),
    )


@register(
    "llm_burstiness",
    oracle=r"""
WITH words AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE length(trim(text)) > 0
), percount AS (
    SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM words GROUP BY 1, 2
), nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM words),
stats AS (
    SELECT p.word,
           CAST(SUM(p.c) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.c) AS DOUBLE) / nd.n AS mu,
           (CAST(SUM(p.c * p.c) AS DOUBLE) - CAST(SUM(p.c) AS DOUBLE)
                * CAST(SUM(p.c) AS DOUBLE) / nd.n) / nd.n AS var
    FROM percount p, nd
    GROUP BY 1, nd.n
)
SELECT word, total, n_docs,
       FLOOR(var / mu * 1000000 + 0.5) / 1000000 AS burstiness,
       rnk FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY total DESC, word) AS rnk
    FROM stats
) WHERE rnk <= 50
""",
)
def llm_burstiness(spark, sf_dir):
    """Term burstiness (Church-Gale variance-to-mean ratio over docs,
    zeros included) for the top-50 corpus terms — the signal separating
    topical words (bursty: absent in most docs, dense in a few) from
    function words (Poisson-like, VMR ≈ constant). Per-(word, doc)
    counts are one explode + one aggregate; the zero-inflated moments
    come FROM THE NONZERO ROWS ONLY via the algebraic identity
    Σ(c−μ)²/n = (Σc² − (Σc)²/n)/n over all docs — no doc×vocab
    densification, which is what makes this computable at 100 TB. One
    integer-ratio division per word, quantized at 1e-6; ties on the
    total-count ranking break lexically."""
    words = ckpt(
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    )
    percount = words.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    nd = words.agg(F.countDistinct("doc_id").cast("double").alias("n"))
    stats = (
        percount.crossJoin(F.broadcast(nd))
        .groupBy("word", "n")
        .agg(
            F.sum("c").cast("bigint").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("c") * F.col("c")).cast("double").alias("sq"),
        )
        .select(
            "word",
            "total",
            "n_docs",
            (F.col("total").cast("double") / F.col("n")).alias("mu"),
            (
                (F.col("sq") - F.col("total").cast("double") * F.col("total") / F.col("n"))
                / F.col("n")
            ).alias("var"),
        )
    )
    w = Window.orderBy(F.desc("total"), F.asc("word"))
    return (
        stats.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 50)
        .select(
            "word",
            "total",
            "n_docs",
            qround(F.col("var") / F.col("mu")).alias("burstiness"),
            "rnk",
        )
    )


@register(
    "llm_compression_filter",
    oracle="""
SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n_chars,
       TRUE AS ratio_ok, TRUE AS floor_ok
FROM documents WHERE length(trim(text)) > 0
""",
)
def llm_compression_filter(spark, sf_dir):
    """Compressibility quality gate (the Gopher-rules signal): docs
    whose zlib-compressed size is a tiny fraction of the raw size are
    repetitive boilerplate; docs that barely compress are noise/binary
    spill. Computed in an Arrow-batched pandas UDF (zlib is stdlib —
    the rare case where the Python path IS the production path, since
    no JVM builtin exposes deflate ratios). Anchor contract: exact
    per-doc char counts hash-match the oracle; `ratio_ok` (ratio in
    (0, 1.2]) and `floor_ok` (compressed bytes ≥ the 8-byte zlib
    header+adler32 floor, i.e. ratio·n_chars ≥ 8 — a genuine codec
    property) are computed Spark-side vs literal TRUE — a broken codec
    path flips the hash. The raw ratio stays available for banding by
    the caller (the fixture's tiny-vocab synthetic text compresses far
    below any real-text keep band, so no fixed band is asserted)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def zratio(s: pd.Series) -> pd.Series:
        import zlib

        def ratio(txt: str) -> float:
            raw = txt.strip().encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        return s.map(ratio)

    d = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.length(F.trim("text")).cast("bigint").alias("n_chars"), "text")
    )
    scored = d.withColumn("ratio", zratio("text"))
    return scored.select(
        "doc_id",
        "n_chars",
        ((F.col("ratio") > 0) & (F.col("ratio") <= 1.2)).alias("ratio_ok"),
        (F.col("ratio") * F.col("n_chars") >= 8.0).alias("floor_ok"),
    )


@register(
    "llm_url_dedup",
    oracle="""
WITH urls AS (
    SELECT doc_id,
           'https://' || upper(source) || '.Example.COM/p/' || CAST(doc_id % 7 AS VARCHAR)
               || '?utm_source=feed&session=' || CAST(doc_id AS VARCHAR) AS url
    FROM documents
), canon AS (
    SELECT doc_id,
           lower(regexp_extract(url, '^https?://([^/?#]+)', 1))
               || regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS curl
    FROM urls
)
SELECT curl, CAST(MIN(doc_id) AS BIGINT) AS keeper,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
FROM canon GROUP BY curl HAVING COUNT(*) > 1
""",
)
def llm_url_dedup(spark, sf_dir):
    """URL-canonicalization dedup — the first pass of any web-corpus
    pipeline: the same page is crawled under dozens of URL spellings
    (tracking params, case-variant hosts, session ids), and collapsing
    them BEFORE fetching/processing text is orders of magnitude cheaper
    than text-level dedup. The fixture has no URL column, so a
    deterministic crawl-style URL is synthesized from (source, doc_id)
    with exactly the junk a crawler sees: upper/mixed-case host, a
    tracking query string, a per-doc session id. Canonicalization is
    the Spark-native route — `parse_url(HOST)` lowercased + `parse_url
    (PATH)`, query/fragment dropped — while the oracle canonicalizes
    the SAME strings with pure regexes, so the hash cross-checks
    Spark's URL parser against an independent implementation. One hash
    shuffle on the canonical key; at 100 TB this is the cheapest dedup
    in the stack (no tokenization, no shingles). The path modulus is 7
    (~25 docs/source over 7 paths ⇒ collisions by pigeonhole at every
    fixture scale — at %97 the output was EMPTY, a contract with no
    value signal; r7 zero-row audit)."""
    d = t(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.upper("source"),
            F.lit(".Example.COM/p/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("?utm_source=feed&session="),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    canon = urls.select(
        "doc_id",
        F.concat(
            F.lower(F.parse_url("url", F.lit("HOST"))),
            F.parse_url("url", F.lit("PATH")),
        ).alias("curl"),
    )
    return (
        canon.groupBy("curl")
        .agg(
            F.min("doc_id").cast("bigint").alias("keeper"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
        )
        .filter(F.col("n_dropped") > 0)
    )


@register(
    "llm_boilerplate_ngrams",
    oracle=f"""
WITH grams AS (
    SELECT DISTINCT doc_id, source, unnest({_NGRAM_SH_DUCK}) AS g
    FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS words
          FROM documents)
), freq AS (
    SELECT source, g, COUNT(*) AS n_docs FROM grams GROUP BY 1, 2
), boiler AS (
    SELECT source, g FROM freq WHERE n_docs >= 4
), affected AS (
    SELECT DISTINCT gr.source, gr.doc_id
    FROM grams gr JOIN boiler b ON gr.source = b.source AND gr.g = b.g
)
SELECT f.source,
       CAST(COUNT(DISTINCT b.g) AS BIGINT) AS n_boiler_shingles,
       CAST((SELECT COUNT(*) FROM affected a WHERE a.source = f.source) AS BIGINT)
           AS n_docs_affected
FROM freq f LEFT JOIN boiler b ON f.source = b.source AND f.g = b.g
GROUP BY f.source
""",
)
def llm_boilerplate_ngrams(spark, sf_dir):
    """CCNet-style boilerplate audit — headers, footers, nav bars and
    cookie banners repeat VERBATIM across pages of the same site, and a
    per-domain repeated-shingle gate finds them without any parsing:
    a word-3-shingle that occurs in >= 4 distinct documents of one
    source is boilerplate. Reports, per source, how many shingles trip
    the gate and how many documents carry at least one. Per-(source,
    shingle) frequency is one hash shuffle (map-side combined); the
    affected-doc join streams the shingle table against the gated set
    on the same key — never all-pairs, and the gate output is tiny
    (bounded by distinct repeated shingles, not corpus size), exactly
    the shape that survives a 100 TB crawl partitioned by domain."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # The shingle sets feed both the frequency table and the affected-doc
    # join. Shingles are DISTINCT per doc: count(*) == distinct docs.
    grams = ckpt(_shingle_sets(docs, F.trim("text"))).select(
        "doc_id", "source", F.explode("sarr").alias("g")
    )
    freq = grams.groupBy("source", "g").agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = freq.filter(F.col("n_docs") >= 4).select("source", "g")
    affected = (
        grams.join(boiler, ["source", "g"])
        .select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_affected"))
    )
    per_source = (
        freq.join(boiler.withColumn("is_b", F.lit(1)), ["source", "g"], "left")
        .groupBy("source")
        .agg(
            F.count_distinct(F.when(F.col("is_b") == 1, F.col("g")))
            .cast("bigint")
            .alias("n_boiler_shingles")
        )
    )
    return (
        per_source.join(affected, "source", "left")
        .select(
            "source",
            "n_boiler_shingles",
            F.coalesce("n_docs_affected", F.lit(0)).cast("bigint").alias("n_docs_affected"),
        )
    )


@register(
    "llm_dedup_containment",
    oracle=f"""
WITH grams AS (
    SELECT DISTINCT doc_id, unnest({_NGRAM_SH_DUCK}) AS g
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents)
), sizes AS (
    SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a AS contained_doc, doc_b AS container_doc,
       ROUND(CAST(n_common AS DOUBLE) / sa.sz, 6) AS containment
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / sa.sz >= 0.8
  AND sa.sz <= sb.sz
""",
)
def llm_dedup_containment(spark, sf_dir):
    """Broder CONTAINMENT dedup — the asymmetric measure Jaccard
    misses: an excerpt quoted inside a longer article has low Jaccard
    (the union is article-sized) but containment |A∩B|/|A| ≈ 1. A
    corpus keeping both trains on the excerpt twice. Pairs where ≥80%
    of the smaller doc's 3-shingles appear in a no-smaller doc are
    flagged (contained → container). Candidates come from the shared-
    shingle join — cost O(co-occurring shingles), never all-pairs, the
    same blocking spine as llm_dedup_ngram; the containment divisor is
    just the SMALLER doc's shingle count, so no extra pass beyond the
    per-doc sizes both sides already need. Exact: integer intersection
    counts over distinct shingles, one double division."""
    grams = _doc_shingles(spark, sf_dir).select("doc_id", "sz", F.explode("sarr").alias("g"))
    a = grams.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "g")
    b = grams.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "g")
    cont = F.col("n_common") / F.col("sz_a")
    return (
        a.join(b, "g")
        # The size condition reads only the two sizes, so it is cut before
        # the group-by (exact: a pair's sizes are the same on every row).
        .filter((F.col("doc_a") != F.col("doc_b")) & (F.col("sz_a") <= F.col("sz_b")))
        .groupBy("doc_a", "doc_b", "sz_a")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(cont >= 0.8)
        .select(
            F.col("doc_a").alias("contained_doc"),
            F.col("doc_b").alias("container_doc"),
            F.round(cont, 6).alias("containment"),
        )
    )


@register(
    "llm_kwic_spans",
    oracle=r"""
WITH w AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
), hits AS (
    SELECT doc_id, words, list_position(words, 'spark') AS pos FROM w
    WHERE list_position(words, 'spark') > 0
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       array_to_string(words[GREATEST(1, pos - 3):LEAST(len(words), pos + 3)], ' ')
           AS span
FROM hits
""",
)
def llm_kwic_spans(spark, sf_dir):
    """Keyword-in-context (KWIC) extraction — the concordance view
    corpus QA teams use to audit how a term is actually used before
    writing filter rules (is 'spark' the engine or a stray token?).
    For each doc containing the anchor term, emit the ±3-token window
    around its FIRST occurrence. Pure array algebra in codegen:
    split → array_position → slice — no explode, no shuffle, output
    bounded by hit count. The 1-based position and inclusive-slice
    semantics are aligned across engines (Spark `slice(start, length)`
    vs DuckDB `list[a:b]`) — exactly the off-by-one seam the oracle
    hash exists to catch."""
    d = t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("words"))
    hits = w.withColumn("pos", F.array_position("words", "spark")).filter(
        F.col("pos") > 0
    )
    start = F.greatest(F.lit(1), F.col("pos") - 3)
    stop = F.least(F.size("words").cast("bigint"), F.col("pos") + 3)
    return hits.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.array_join(
            F.slice("words", start, (stop - start + 1).cast("int")), " "
        ).alias("span"),
    )


@register(
    "llm_lsh_tuning_curve",
    oracle=r"""
WITH base AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
    FROM documents
), base3 AS (
    SELECT * FROM base WHERE len(words) >= 3
), shl AS MATERIALIZED (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - 1),
                  i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS sarr
    FROM base3
), xs AS (
    SELECT doc_id, CAST(len(sarr) AS BIGINT) AS sz,
           list_transform(sarr, s -> CAST(('0x' || substr(md5(s), 1, 13)) AS BIGINT)) AS x1,
           list_transform(sarr, s -> CAST(('0x' || substr(md5(s), 17, 13)) AS BIGINT) | 1) AS x2
    FROM shl
), sig AS MATERIALIZED (
    SELECT doc_id,
           list_transform(range(0, 8),
               i -> list_aggregate(list_transform(range(1, sz + 1),
                        j -> (x1[j] + i * x2[j]) % 4503599627370496), 'min')) AS h
    FROM xs
), sizes AS MATERIALIZED (
    SELECT doc_id, CAST(len(sarr) AS BIGINT) AS sz FROM shl
), grams AS MATERIALIZED (
    SELECT doc_id, unnest(sarr) AS g FROM shl
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), truth AS MATERIALIZED (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.nc AS DOUBLE) / (sa.sz + sb.sz - i.nc) >= 0.4
), cfg AS (
    SELECT unnest([1, 2, 4, 8]) AS r
), bands AS MATERIALIZED (
    SELECT s.doc_id, c.r, bb.band_id,
           array_to_string(list_transform(
               s.h[bb.band_id * c.r + 1 : (bb.band_id + 1) * c.r],
               x -> CAST(x AS VARCHAR)), ':') AS k
    FROM sig s, cfg c,
         LATERAL (SELECT unnest(range(0, 8 // c.r)) AS band_id) bb
), cand AS MATERIALIZED (
    SELECT DISTINCT a.r, a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.r = b.r AND a.band_id = b.band_id AND a.k = b.k
                AND a.doc_id < b.doc_id
), per_cfg AS (
    SELECT r, COUNT(*) AS n_candidates,
           SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS n_true_found
    FROM cand c
    LEFT JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    GROUP BY r
)
SELECT CAST(8 // p.r AS BIGINT) AS n_bands,
       CAST(p.r AS BIGINT) AS rows_per_band,
       CAST(p.n_candidates AS BIGINT) AS n_candidates,
       CAST(p.n_true_found AS BIGINT) AS n_true_found,
       ROUND(CAST(p.n_true_found AS DOUBLE) / NULLIF(tt.n, 0), 6) AS recall
FROM per_cfg p, (SELECT COUNT(*) AS n FROM truth) tt
""",
)
def llm_lsh_tuning_curve(spark, sf_dir):
    """MEASURED LSH banding recall/cost curve — the dial every 100 TB
    near-dup deployment has to set, produced as data instead of folk
    math: for the same 8 min-hashes (Kirsch–Mitzenmacher family,
    identical to llm_dedup_minhash_sql), evaluate every banding layout
    (8×1, 4×2, 2×4, 1×8) against EXACT ground truth (shingle-join
    Jaccard ≥ 0.4, the blocked-never-all-pairs path) and report
    candidates generated (= join cost) vs true pairs recalled. The
    theoretical S-curve P = 1-(1-J^r)^b becomes an observed row per
    config; picking r is then a lookup, not a leap. All banding keys
    are md5-derived integers concatenated as strings — bit-identical
    across engines, so even this meta-analysis has a full value-hash
    twin. One signature pass (materialized once), one unioned band
    self-join keyed by (layout, band, key), one exact-truth join."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # feeds signatures AND exact truth
    doc_sh = ckpt(_km_bases(_shingle_sets(docs, F.lower(F.trim("text")))))
    sig = ckpt(doc_sh.select("doc_id", _km_signature().alias("h")))  # all four layouts
    # exact ground truth via the blocked shingle join; feeds the
    # per-config join AND the total
    truth = ckpt(_jaccard_pairs(doc_sh, 0.4).select("doc_a", "doc_b"))
    cfg = spark.createDataFrame([(1,), (2,), (4,), (8,)], "r int")
    bands = (
        sig.crossJoin(F.broadcast(cfg))
        .select(
            "doc_id",
            "r",
            F.explode(F.expr("sequence(0, cast(8 / r as int) - 1)")).alias("band_id"),
            "h",
        )
        .select(
            "doc_id",
            "r",
            "band_id",
            F.expr(
                "array_join(transform(slice(h, band_id * r + 1, r), x -> cast(x as string)), ':')"
            ).alias("k"),
        )
    )
    ba = bands.select(F.col("doc_id").alias("doc_a"), "r", "band_id", "k")
    bb = bands.select(F.col("doc_id").alias("doc_b"), "r", "band_id", "k")
    cand = (
        ba.join(bb, ["r", "band_id", "k"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("r", "doc_a", "doc_b")
        .distinct()
    )
    per_cfg = (
        cand.join(truth.withColumn("is_true", F.lit(1)), ["doc_a", "doc_b"], "left")
        .groupBy("r")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.coalesce("is_true", F.lit(0))).cast("bigint").alias("n_true_found"),
        )
    )
    tt = truth.agg(F.count(F.lit(1)).alias("n"))
    return per_cfg.crossJoin(F.broadcast(tt)).select(
        F.floor(8 / F.col("r")).cast("bigint").alias("n_bands"),
        F.col("r").cast("bigint").alias("rows_per_band"),
        "n_candidates",
        "n_true_found",
        F.round(
            F.col("n_true_found").cast("double") / F.nullif(F.col("n").cast("double"), F.lit(0.0)),
            6,
        ).alias("recall"),
    )


@register(
    "llm_corpus_card",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, lang, source, n_chars,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           md5(lower(trim(text))) AS chash
    FROM documents
), dup AS (
    SELECT COUNT(*) - COUNT(DISTINCT chash) AS n_exact_dups FROM toks
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(dup.n_exact_dups AS BIGINT) AS n_exact_dups,
       CAST(quantile_cont(n_tokens, 0.5) AS DOUBLE) AS median_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM toks, dup
GROUP BY dup.n_exact_dups
""",
)
def llm_corpus_card(spark, sf_dir):
    """Dataset-card summary — the one-row factsheet (Gebru et al.'s
    datasheets, HuggingFace dataset cards) a corpus release ships
    with: volume (docs/chars/tokens), diversity (languages, sources),
    hygiene (exact-dup count), and shape (median/max tokens). One pass
    computes the per-doc grain, one global aggregate collapses it —
    every number exact, including the duplicate count (count minus
    distinct content-hash, the same normalization as llm_dedup_exact)
    and the interpolated median. The point of the operator is the
    COMPOSITION: a release gate runs this after every pipeline change
    and diffs the card; at 100 TB it is two map-side-combinable
    aggregates and one broadcast scalar."""
    d = t(spark, sf_dir, "documents")
    toks = ckpt(d.select(
        "lang",
        "source",
        "n_chars",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
        F.md5(F.lower(F.trim("text"))).alias("chash"),
    ))  # feeds the dup scalar AND the main rollup
    dups = (F.count(F.lit(1)) - F.countDistinct("chash")).cast("bigint")
    return with_stats(toks, dups.alias("n_exact_dups")).groupBy("n_exact_dups").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.expr("percentile(n_tokens, 0.5D)").cast("double").alias("median_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    ).select(
        "n_docs", "total_chars", "total_tokens", "n_langs", "n_sources",
        "n_exact_dups", "median_tokens", "max_tokens",
    )


@register(
    "llm_hard_negatives",
    oracle="""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(
               SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE))
               / (SQRT(SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(q.embedding[g.i] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE)))),
               6) AS cos_sim
    FROM q, embeddings c, generate_series(1, 64) g(i)
    WHERE c.vec_id <> q.vec_id
    GROUP BY 1, 2
), banded AS (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM pairs WHERE cos_sim >= 0.2 AND cos_sim < 0.8
)
SELECT query_id, neighbor_id, cos_sim, rank FROM banded WHERE rank <= 5
""",
)
def llm_hard_negatives(spark, sf_dir):
    """Hard-negative mining — the contrastive-training data op:
    retrieval/embedding models learn most from negatives that are
    SIMILAR-BUT-WRONG, so for each anchor take the top-k neighbors in
    the [0.2, 0.8) cosine band — above it is a near-duplicate
    (a false negative that poisons the loss, exactly what llm_semdedup
    removes), below it is trivially easy. Same broadcast-anchor exact-
    cosine spine as llm_simsearch with the band as a pre-rank filter;
    at 100 TB the mining runs per anchor batch against the ANN index
    (llm_simsearch_ivf's coarse quantizer) with this exact plan as the
    rescoring stage. Ranks deterministic (cos desc, id asc)."""
    pairs = _query_pairs(spark, sf_dir).select("query_id", "neighbor_id", "cos_sim")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.filter((F.col("cos_sim") >= 0.2) & (F.col("cos_sim") < 0.8))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


@register(
    "llm_span_corruption",
    oracle=r"""
WITH base AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
), sized AS (
    SELECT doc_id, w, len(w) AS n FROM base WHERE len(w) >= 12
), marked AS (
    SELECT doc_id, w, n,
           list_transform(range(1, n + 1),
               i -> CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                CAST((i - 1) // 4 AS VARCHAR)), 1, 6))::BIGINT % 100) < 15
                          AND (i - 1) % 4 < 3
                    THEN 1 ELSE 0 END) AS mask
    FROM sized
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(list_aggregate(mask, 'sum') AS BIGINT) AS n_masked,
       array_to_string(list_transform(range(1, n + 1),
           i -> CASE WHEN mask[i] = 1 THEN '<X>' ELSE w[i] END), ' ') AS corrupted,
       COALESCE(array_to_string([w[i] FOR i IN range(1, n + 1) IF mask[i] = 1], ' '), '')
           AS targets
FROM marked
""",
)
def llm_span_corruption(spark, sf_dir):
    """T5-style span corruption — the pretraining-objective data op:
    contiguous token spans are masked (here 4-token windows selected by
    a deterministic per-(doc, window) hash at ~15% rate, 3 of 4 tokens
    masked per selected window), the input keeps sentinel markers and
    the masked tokens become the target sequence. 'Random' corruption
    is HASH-SEEDED, so every epoch/engine/cluster re-run corrupts
    identically — reproducibility the torch dataloader version never
    gives you. Pure array algebra in codegen (transform + filter +
    array_join over the token array — no explode, no shuffle, no
    Python); output is row-per-doc, pipelined inside the scan stage at
    any corpus size."""
    d = t(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    ).select("doc_id", "w", F.size("w").cast("bigint").alias("n")).filter(
        F.col("n") >= 12
    )
    marked = sized.withColumn(
        "mask",
        F.expr(
            "transform(sequence(1, cast(n as int)), i -> "
            "CASE WHEN cast(conv(substr(md5(concat(cast(doc_id as string), ':', "
            "cast(div((i - 1), 4) as string))), 1, 6), 16, 10) as bigint) % 100 < 15 "
            "AND (i - 1) % 4 < 3 THEN 1 ELSE 0 END)"
        ),
    )
    return marked.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.expr("aggregate(mask, 0L, (a, x) -> a + x)").cast("bigint").alias("n_masked"),
        F.expr(
            "array_join(transform(sequence(1, cast(n as int)), "
            "i -> CASE WHEN element_at(mask, i) = 1 THEN '<X>' "
            "ELSE element_at(w, i) END), ' ')"
        ).alias("corrupted"),
        F.expr(
            "array_join(transform(filter(sequence(1, cast(n as int)), "
            "i -> element_at(mask, i) = 1), i -> element_at(w, i)), ' ')"
        ).alias("targets"),
    )


@register(
    "llm_preference_pairs",
    oracle=f"""
WITH grams AS (
    SELECT DISTINCT doc_id, unnest({_NGRAM_SH_DUCK}) AS g
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents)
), sizes AS (
    SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), near AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
), meta AS (
    SELECT doc_id, n_chars FROM documents
)
SELECT CASE WHEN ma.n_chars > mb.n_chars
              OR (ma.n_chars = mb.n_chars AND doc_a < doc_b)
            THEN doc_a ELSE doc_b END AS chosen,
       CASE WHEN ma.n_chars > mb.n_chars
              OR (ma.n_chars = mb.n_chars AND doc_a < doc_b)
            THEN doc_b ELSE doc_a END AS rejected,
       CAST(ABS(ma.n_chars - mb.n_chars) AS BIGINT) AS quality_gap
FROM near
JOIN meta ma ON doc_a = ma.doc_id
JOIN meta mb ON doc_b = mb.doc_id
""",
)
def llm_preference_pairs(spark, sf_dir):
    """Preference-pair mining — DPO/reward-model training data from
    the corpus itself: near-duplicate documents (same content,
    different renditions — the mirror/extract/truncation families
    dedup finds) become (chosen, rejected) pairs by ranking within the
    pair on a quality signal (here length; production swaps in the
    llm_quality composite). The pair source is the shingle-blocked
    Jaccard join (llm_dedup_ngram's spine — never all-pairs), the
    ranking one deterministic comparison with an id tie-break. At
    100 TB this is THE cheap preference corpus: no labelers, just
    dedup byproducts re-read as supervision."""
    near = _jaccard_pairs(_doc_shingles(spark, sf_dir), 0.2).select("doc_a", "doc_b")
    meta = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ma = meta.select(F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("nc_a"))
    mb = meta.select(F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("nc_b"))
    a_wins = (F.col("nc_a") > F.col("nc_b")) | (
        (F.col("nc_a") == F.col("nc_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return (
        near.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.when(a_wins, F.col("doc_a")).otherwise(F.col("doc_b")).alias("chosen"),
            F.when(a_wins, F.col("doc_b")).otherwise(F.col("doc_a")).alias("rejected"),
            F.abs(F.col("nc_a") - F.col("nc_b")).cast("bigint").alias("quality_gap"),
        )
    )


@register(
    "llm_bpe_first_merges",
    oracle=r"""
WITH words AS (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
), wc AS (
    SELECT w, COUNT(*) AS n FROM words WHERE len(w) >= 2 GROUP BY w
), pairs AS (
    SELECT substr(w, i, 2) AS pair, SUM(n) AS freq
    FROM wc, LATERAL (SELECT unnest(range(1, len(w))) AS i) s
    GROUP BY 1
)
SELECT pair, CAST(freq AS BIGINT) AS freq
FROM pairs ORDER BY freq DESC, pair ASC LIMIT 20
""",
)
def llm_bpe_first_merges(spark, sf_dir):
    """BPE training, iteration zero — the merge-candidate table: the
    frequency of every adjacent character pair across the corpus
    (weighted by word frequency) is what byte-pair encoding greedily
    merges first; the top pair IS the first vocabulary merge. The
    production trick is here: aggregate to the WORD-FREQUENCY table
    first (vocabulary-sized), then explode each distinct word's ≤len
    character pairs once and weight by count — pair extraction cost is
    O(vocabulary), not O(corpus), the difference between re-tokenizing
    100 TB and re-tokenizing a word list. Full BPE iterates this
    table; the first iteration is the exact, oracle-checkable core.
    Integer counts, deterministic ties."""
    d = t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, cast(length(w) - 1 as int)), i -> substring(w, i, 2))")
        ).alias("pair"),
        "n",
    ).groupBy("pair").agg(F.sum("n").cast("bigint").alias("freq"))
    return pairs.orderBy(F.desc("freq"), F.asc("pair")).limit(20)


@register(
    "llm_curriculum_order",
    oracle=r"""
WITH scored AS (
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_types
    FROM documents
), diff AS (
    SELECT doc_id, n_tokens,
           CAST(n_types AS DOUBLE) / n_tokens AS ttr,
           NTILE(4) OVER (ORDER BY CAST(n_types AS DOUBLE) / n_tokens ASC,
                          n_tokens ASC, doc_id ASC) AS stage
    FROM scored WHERE n_tokens > 0
)
SELECT doc_id, CAST(stage AS BIGINT) AS stage,
       CAST(ROW_NUMBER() OVER (PARTITION BY stage
                               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
            AS BIGINT) AS position
FROM diff
""",
)
def llm_curriculum_order(spark, sf_dir):
    """Curriculum ordering — the data-side half of curriculum learning:
    rank the corpus by a difficulty proxy (type-token ratio — low TTR
    = repetitive/easy text first), cut into 4 stages by NTILE, and
    fix each document's within-stage position by a HASH-SEEDED
    deterministic shuffle (md5 order) — the 'shuffled but
    reproducible' epoch ordering a dataloader needs, materialized as
    data so every retrain reads the identical curriculum. One narrow
    scoring projection, one global NTILE sort (the one unavoidable
    total order — at 100 TB this becomes a range-partitioned sort,
    which is exactly what NTILE plans as), one per-stage rank.
    Deterministic ties at every level."""
    d = t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("n_types"),
    ).filter(F.col("n_tokens") > 0)
    ttr = F.col("n_types").cast("double") / F.col("n_tokens")
    diff = scored.select(
        "doc_id",
        "n_tokens",
        ttr.alias("ttr"),
        F.ntile(4)
        .over(Window.orderBy(ttr.asc(), F.col("n_tokens").asc(), F.col("doc_id").asc()))
        .alias("stage"),
    )
    w_stage = Window.partitionBy("stage").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return diff.select(
        "doc_id",
        F.col("stage").cast("bigint").alias("stage"),
        F.row_number().over(w_stage).cast("bigint").alias("position"),
    )


@register(
    "llm_watermark_ztest",
    oracle=r"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
    FROM documents
), flagged AS (
    SELECT doc_id,
           CASE WHEN ('0x' || substring(md5(w), 1, 6))::BIGINT % 2 = 0
                THEN 1 ELSE 0 END AS green
    FROM toks
), per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(green) AS BIGINT) AS g
    FROM flagged GROUP BY doc_id
)
SELECT doc_id, n AS n_tokens, g AS n_green,
       ROUND((g - n / 2.0) / sqrt(n / 4.0), 6) AS z_score,
       ABS((g - n / 2.0) / sqrt(n / 4.0)) > 4.0 AS flagged
FROM per_doc WHERE n >= 16
""",
)
def llm_watermark_ztest(spark, sf_dir):
    """Statistical text-watermark detection (Kirchenbauer-style) — the
    provenance test for model-generated text: a watermarking sampler
    over-selects a pseudorandom 'green list' (here green(token) =
    hash parity, γ = 0.5), so a document's green fraction under the
    null (unwatermarked) is Binomial(n, ½) and z = (g − n/2)/√(n/4)
    flags generated text at |z| > 4 (~6e-5 false-positive rate). Run
    over a training corpus this is the model-output-contamination
    screen — the synthetic-text sibling of llm_contamination's
    benchmark check. One explode + one combinable aggregate; the
    z-test is arithmetic on two integers per doc. Short docs (< 16
    tokens) excluded — the normal approximation is dishonest there."""
    d = t(spark, sf_dir, "documents")
    flagged = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("w"), 1, 6), 16, 10).cast("bigint") % 2 == 0
        )
        .cast("long")
        .alias("green"),
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("green").cast("bigint").alias("g"),
    )
    z = (F.col("g") - F.col("n") / 2.0) / F.sqrt(F.col("n") / 4.0)
    return (
        per_doc.filter(F.col("n") >= 16)
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.col("g").alias("n_green"),
            F.round(z, 6).alias("z_score"),
            (F.abs(z) > 4.0).alias("flagged"),
        )
    )


@register(
    "llm_dedup_transitivity_audit",
    oracle=f"""
WITH grams AS (
    SELECT DISTINCT doc_id, unnest({_NGRAM_SH_DUCK}) AS g
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents)
), sizes AS (
    SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), near AS MATERIALIZED (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
), sym AS MATERIALIZED (
    SELECT doc_a AS u, doc_b AS v FROM near
    UNION ALL SELECT doc_b, doc_a FROM near
), wedges AS (
    SELECT s1.v AS center, s1.u AS x, s2.v AS y
    FROM sym s1 JOIN sym s2 ON s1.v = s2.u AND s1.u < s2.v
), closed AS (
    SELECT w.center, w.x, w.y,
           CASE WHEN n.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_closed
    FROM wedges w
    LEFT JOIN near n ON n.doc_a = w.x AND n.doc_b = w.y
)
SELECT CAST((SELECT COUNT(*) FROM near) AS BIGINT) AS n_pairs,
       CAST(COUNT(*) AS BIGINT) AS n_wedges,
       CAST(SUM(is_closed) AS BIGINT) AS n_closed,
       ROUND(CAST(SUM(is_closed) AS DOUBLE) / NULLIF(COUNT(*), 0), 6)
           AS transitivity
FROM closed
""",
)
def llm_dedup_transitivity_audit(spark, sf_dir):
    """Near-dup transitivity audit — the measurement that justifies (or
    indicts) cluster-based dedup: near-duplicate similarity is NOT
    transitive (A~B, B~C ⇏ A~C — chained paraphrases drift), yet
    llm_dedup_cluster keeps ONE doc per connected component, silently
    deleting non-duplicates whenever transitivity fails. This op
    measures the actual wedge-closure rate of the Jaccard≥0.2 pair
    graph: transitivity near 1 ⇒ components are cliques and cluster-
    dedup is safe; low ⇒ switch to pairwise keep-best
    (llm_dedup_keep_best). Wedges come from one self-join of the
    (small) pair set keyed on the shared endpoint; closure is a hash
    lookup against the same pair set — never touches the corpus
    again."""
    near = ckpt(  # feeds sym, the closure probe, AND the count
        _jaccard_pairs(_doc_shingles(spark, sf_dir), 0.2).select("doc_a", "doc_b")
    )
    sym = near.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        near.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    s1 = sym.select(F.col("v").alias("center"), F.col("u").alias("x"))
    s2 = sym.select(F.col("u").alias("center"), F.col("v").alias("y"))
    wedges = s1.join(s2, "center").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        near.select(
            F.col("doc_a").alias("x"), F.col("doc_b").alias("y"), F.lit(1).alias("cl")
        ),
        ["x", "y"],
        "left",
    )
    n_pairs = near.count()  # bounded driver scalar over the pair set
    return closed.agg(
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        F.count(F.lit(1)).cast("bigint").alias("n_wedges"),
        F.sum(F.coalesce("cl", F.lit(0))).cast("bigint").alias("n_closed"),
        F.round(
            F.sum(F.coalesce("cl", F.lit(0))).cast("double")
            / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)),
            6,
        ).alias("transitivity"),
    )


@register(
    "llm_lsh_bucket_skew",
    oracle=r"""
WITH base AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
    FROM documents
), base3 AS (
    SELECT * FROM base WHERE len(words) >= 3
), shl AS MATERIALIZED (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - 1),
                  i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS sarr
    FROM base3
), xs AS (
    SELECT doc_id, CAST(len(sarr) AS BIGINT) AS sz,
           list_transform(sarr, s -> CAST(('0x' || substr(md5(s), 1, 13)) AS BIGINT)) AS x1,
           list_transform(sarr, s -> CAST(('0x' || substr(md5(s), 17, 13)) AS BIGINT) | 1) AS x2
    FROM shl
), sig AS (
    SELECT doc_id,
           list_transform(range(0, 8),
               i -> list_aggregate(list_transform(range(1, sz + 1),
                        j -> (x1[j] + i * x2[j]) % 4503599627370496), 'min')) AS h
    FROM xs
), bands AS MATERIALIZED (
    SELECT CAST(b.band_id AS BIGINT) AS band_id,
           CAST(s.h[b.band_id * 2 + 1] AS VARCHAR) || ':' ||
               CAST(s.h[b.band_id * 2 + 2] AS VARCHAR) AS k
    FROM sig s, (SELECT unnest(range(0, 4)) AS band_id) b
), buckets AS (
    SELECT band_id, k, COUNT(*) AS bsz FROM bands GROUP BY 1, 2
)
SELECT band_id,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(bsz) AS BIGINT) AS max_bucket,
       CAST(SUM(bsz * (bsz - 1) / 2) AS BIGINT) AS candidate_pairs,
       ROUND(CAST(SUM(bsz * bsz) AS DOUBLE) / SUM(bsz), 6) AS mean_probe_cost
FROM buckets GROUP BY band_id
""",
)
def llm_lsh_bucket_skew(spark, sf_dir):
    """LSH bucket-skew diagnosis — the COST side of the banding dial
    (llm_lsh_tuning_curve measures recall; this measures what the band
    join PAYS): per band of the production 4×2 layout, the bucket-size
    distribution, Σ C(|b|,2) (the EXACT candidate-pair count the join
    materializes), and E[|b|] under a random probe (Σ|b|²/Σ|b| — the
    size-biased mean, which is what a skewed bucket costs, not the
    unweighted average). A hot bucket here is the straggler task at
    100 TB and the signal to add a hash or salt the band key. Same
    signature construction as llm_dedup_minhash_sql; one extra
    groupBy on the band table. Integer-exact."""
    # Stage the (x1, x2) bases once per shingle behind an eager
    # checkpoint (CollapseProject would re-inline a lazy staging
    # projection into the seed loop); see OPTIMIZATION_r13.md.
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    sets = _shingle_sets(docs, F.lower(F.trim("text")))
    doc_sh = ckpt(_km_bases(sets).select("doc_id", "xs"))
    sig = doc_sh.select("doc_id", _km_signature().alias("h"))
    bands = sig.select(
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> named_struct("
                "'band_id', cast(b as bigint), "
                "'k', concat(cast(element_at(h, b * 2 + 1) as string), ':', "
                "cast(element_at(h, b * 2 + 2) as string))))"
            )
        ).alias("bk")
    ).select(F.col("bk.band_id").alias("band_id"), F.col("bk.k").alias("k"))
    buckets = bands.groupBy("band_id", "k").agg(F.count(F.lit(1)).alias("bsz"))
    return buckets.groupBy("band_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("bsz").cast("bigint").alias("max_bucket"),
        F.sum(F.col("bsz") * (F.col("bsz") - 1) / 2).cast("bigint").alias(
            "candidate_pairs"
        ),
        F.round(
            F.sum(F.col("bsz") * F.col("bsz")).cast("double") / F.sum("bsz"), 6
        ).alias("mean_probe_cost"),
    )


@register(
    "llm_embed_norm_audit",
    oracle="""
WITH norms AS (
    SELECT vec_id, label,
           sqrt(list_aggregate(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
    FROM embeddings
), q AS (
    SELECT quantile_cont(nrm, 0.25) AS q1, quantile_cont(nrm, 0.75) AS q3 FROM norms
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN nrm < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR nrm > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_norm_outliers,
       CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vectors,
       ROUND(MIN(nrm), 6) AS min_norm, ROUND(MAX(nrm), 6) AS max_norm
FROM norms, q
""",
)
def llm_embed_norm_audit(spark, sf_dir):
    """Embedding-table QC — the check that runs BEFORE any similarity
    op trusts the vectors: L2-norm distribution with Tukey-fence
    outliers (a truncated/NaN-poisoned/wrong-scale batch from the
    embedding service shows up as a norm cluster far from the body)
    and an explicit zero-vector count (the classic failed-inference
    sentinel that silently matches NOTHING in cosine space). Norms in
    codegen (transform-sum, no UDF), exact quantile fences, one pass
    + one broadcast fence pair — the same dq_outlier_iqr mechanics on
    the array column."""
    e = t(spark, sf_dir, "embeddings")
    norms = e.select(
        _emb_norm().alias("nrm")
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return with_stats(
        norms,
        F.expr("percentile(nrm, 0.25D)").alias("q1"),
        F.expr("percentile(nrm, 0.75D)").alias("q3"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(((F.col("nrm") < lo) | (F.col("nrm") > hi)).cast("long"))
        .cast("bigint")
        .alias("n_norm_outliers"),
        F.sum((F.col("nrm") == 0).cast("long")).cast("bigint").alias("n_zero_vectors"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )


@register(
    "llm_dedup_impact",
    oracle="""
WITH hashed AS (
    SELECT doc_id, n_chars, md5(lower(trim(text))) AS chash,
           ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                              ORDER BY doc_id) AS rn
    FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS docs_before,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_after,
       CAST(SUM(n_chars) AS BIGINT) AS chars_before,
       CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_after,
       ROUND(1.0 - CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 6) AS doc_reduction
FROM hashed
""",
)
def llm_dedup_impact(spark, sf_dir):
    """Dedup impact statement — the before/after ledger a dataset
    release publishes next to its card (llm_corpus_card): documents
    and characters before vs after exact dedup (keep-first per content
    hash) and the reduction rate, i.e. how much compute the dedup pass
    just saved downstream. Computed WITHOUT materializing the deduped
    corpus: one window over the content-hash partitioning marks
    keepers, one aggregate reads off both sides of the ledger — at
    100 TB this is the same single shuffle the dedup itself pays, so
    the report is free alongside it."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("chash").orderBy("doc_id")
    hashed = d.select(
        "doc_id", "n_chars", F.md5(F.lower(F.trim("text"))).alias("chash")
    ).withColumn("rn", F.row_number().over(w))
    keep = (F.col("rn") == 1).cast("long")
    return hashed.agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_before"),
        F.sum(keep).cast("bigint").alias("docs_after"),
        F.sum("n_chars").cast("bigint").alias("chars_before"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_after"),
        F.round(
            1.0 - F.sum(keep).cast("double") / F.count(F.lit(1)), 6
        ).alias("doc_reduction"),
    )


@register(
    "llm_retrieval_eval",
    oracle=f"""
WITH sig AS (
    SELECT vec_id, embedding, {_SIGN_BUCKET_DUCK} AS bucket FROM embeddings
), q AS (SELECT * FROM sig WHERE vec_id < 5),
exact_pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE))
           / (SQRT(SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(q.embedding[g.i] AS DOUBLE)))
              * SQRT(SUM(CAST(c.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE)))) AS cs
    FROM q, sig c, generate_series(1, 64) g(i)
    WHERE c.vec_id <> q.vec_id GROUP BY 1, 2
), exact_top AS (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY FLOOR(cs * 1000000 + 0.5) DESC, neighbor_id) AS rnk
    FROM exact_pairs QUALIFY rnk <= 10
), rel AS (SELECT query_id, neighbor_id, 11 - rnk AS rel, rnk FROM exact_top),
ann_pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE))
           / (SQRT(SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(q.embedding[g.i] AS DOUBLE)))
              * SQRT(SUM(CAST(c.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE)))) AS cs
    FROM q JOIN sig c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id,
         generate_series(1, 64) g(i)
    GROUP BY 1, 2
), ann_top AS (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY FLOOR(cs * 1000000 + 0.5) DESC, neighbor_id) AS rnk
    FROM ann_pairs QUALIFY rnk <= 10
), scored AS (
    SELECT a.query_id, a.rnk, COALESCE(r.rel, 0) AS rel
    FROM ann_top a LEFT JOIN rel r
      ON r.query_id = a.query_id AND r.neighbor_id = a.neighbor_id
), idcg AS (
    SELECT query_id, SUM(rel / log2(rnk + 1.0)) AS ideal FROM rel GROUP BY 1
)
SELECT s.query_id,
       ROUND(SUM(CASE WHEN s.rel > 0 THEN 1 ELSE 0 END) / 10.0, 6) AS recall_at_10,
       ROUND(COALESCE(MAX(CASE WHEN s.rel > 0 THEN 1.0 / s.rnk END), 0), 6) AS mrr,
       ROUND(SUM(s.rel / log2(s.rnk + 1.0)) / MAX(i.ideal), 6) AS ndcg_at_10
FROM scored s JOIN idcg i ON i.query_id = s.query_id
GROUP BY 1
""",
)
def llm_retrieval_eval(spark, sf_dir):
    """Retrieval-quality scorecard for the ANN scale path — recall@10,
    MRR, and graded nDCG@10 of the sign-bucket LSH retriever measured
    AGAINST the exact cosine ranking as ground truth (relevance =
    11−exact_rank for the exact top-10, 0 otherwise). This is the eval
    every 100 TB vector pipeline must publish before swapping exact
    search for buckets: dedup/simsearch ops tell you the ANN is CHEAP
    (llm_lsh_tuning_curve prices the candidate set), this op tells you
    what the cheapness COSTS in ranking quality, per query. Plan
    shape: the 5-query side broadcasts into both the exact scan and
    the bucket join; cosines are zip_with/aggregate codegen; both
    rankings quantize the score at 1e-6 BEFORE ranking so cross-engine
    rank ties are impossible by construction."""
    e = t(spark, sf_dir, "embeddings")
    sig = e.select(
        "vec_id",
        "embedding",
        F.expr(_SIGN_BUCKET_SPARK).alias("bucket"),
        _emb_norm().alias("nrm"),
    )
    q = sig.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
        F.col("nrm").alias("qnrm"),
    )
    c = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        "bucket",
        F.col("nrm").alias("cnrm"),
    )
    qcs = F.floor(
        F.expr(_DOT) / (F.col("qnrm") * F.col("cnrm")) * F.lit(1e6) + F.lit(0.5)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcs"), F.asc("neighbor_id"))

    exact_top = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", qcs.alias("qcs"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
    )
    # the exact ground truth feeds the scored join AND the IDCG agg —
    # pin its 50 rows so the full exact-cosine scan runs once
    rel = ckpt(
        exact_top.select(
            "query_id", "neighbor_id", (11 - F.col("rnk")).alias("rel"), "rnk"
        )
    )
    ann_top = (
        c.join(F.broadcast(q), c["bucket"] == q["qbucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", qcs.alias("qcs"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
    )
    scored = ann_top.alias("a").join(
        rel.select("query_id", "neighbor_id", "rel").alias("r"),
        ["query_id", "neighbor_id"],
        "left",
    ).select("query_id", F.col("a.rnk").alias("rnk"), F.coalesce("rel", F.lit(0)).alias("rel"))
    idcg = rel.groupBy("query_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("rnk") + 1.0)).alias("ideal")
    )
    return (
        scored.groupBy("query_id")
        .agg(
            F.round(F.sum((F.col("rel") > 0).cast("int")) / 10.0, 6).alias("recall_at_10"),
            F.round(
                F.coalesce(
                    F.max(F.when(F.col("rel") > 0, 1.0 / F.col("rnk"))), F.lit(0.0)
                ),
                6,
            ).alias("mrr"),
            F.sum(F.col("rel") / F.log2(F.col("rnk") + 1.0)).alias("dcg"),
        )
        .join(F.broadcast(idcg), "query_id")
        .select(
            "query_id",
            "recall_at_10",
            "mrr",
            F.round(F.col("dcg") / F.col("ideal"), 6).alias("ndcg_at_10"),
        )
    )


@register(
    "llm_agreement_kappa",
    oracle="""
WITH lab AS (
    SELECT CASE WHEN CAST(length(trim(text)) AS DOUBLE)
                     / length(string_split_regex(trim(text), '\\s+'))
                BETWEEN 3.0 AND 7.0 THEN 1 ELSE 0 END AS a,
           CASE WHEN length(string_split_regex(trim(text), '\\s+')) >= 20
                THEN 1 ELSE 0 END AS b
    FROM documents WHERE length(trim(text)) > 0
), cm AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(a * b) AS BIGINT) AS n11,
           CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
           CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
           CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
           SUM(a) / CAST(COUNT(*) AS DOUBLE) AS pa,
           SUM(b) / CAST(COUNT(*) AS DOUBLE) AS pb
    FROM lab
)
SELECT n11, n10, n01, n00,
       ROUND((n11 + n00) / n, 6) AS p_observed,
       ROUND(pa * pb + (1 - pa) * (1 - pb), 6) AS p_expected,
       ROUND(((n11 + n00) / n - (pa * pb + (1 - pa) * (1 - pb)))
             / (1 - (pa * pb + (1 - pa) * (1 - pb))), 6) AS cohens_kappa
FROM cm
""",
)
def llm_agreement_kappa(spark, sf_dir):
    """Inter-annotator agreement (Cohen's kappa) between two weak
    quality labelers — the audit a labeling pipeline publishes before
    anyone trusts the labels: raw agreement P_o is meaningless when
    both raters mostly say 'keep', so kappa discounts the
    chance-agreement floor P_e from the raters' own marginals. The
    two deterministic raters here (mean-word-length in [3,7] vs
    word-count ≥ 20) stand in for any pair of model/heuristic/human
    annotators landed as label columns. One narrow projection builds
    both labels per document, one aggregate produces the full 2×2
    confusion table AND the marginals — agreement on a 100 TB corpus
    costs exactly one scan, no join between the raters because they
    ride the same row."""
    d = t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    trimmed = F.trim("text")
    wc = F.size(F.split(trimmed, r"\s+"))
    mwl = F.length(trimmed).cast("double") / wc
    lab = d.select(
        F.when((mwl >= 3.0) & (mwl <= 7.0), 1).otherwise(0).alias("a"),
        F.when(wc >= 20, 1).otherwise(0).alias("b"),
    )
    cm = lab.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
        (F.sum("a") / F.count(F.lit(1))).alias("pa"),
        (F.sum("b") / F.count(F.lit(1))).alias("pb"),
    )
    po = (F.col("n11") + F.col("n00")) / F.col("n")
    pe = F.col("pa") * F.col("pb") + (1 - F.col("pa")) * (1 - F.col("pb"))
    return cm.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (1 - pe), 6).alias("cohens_kappa"),
    )


@register(
    "llm_code_detect",
    oracle="""
SELECT doc_id,
       ROUND((10.0 * (length(text) - length(regexp_replace(text, '[;{}()=<>\\[\\]#]', '', 'g')))
              + 2.0 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))))
             / length(text), 6) AS code_score,
       CASE WHEN (10.0 * (length(text) - length(regexp_replace(text, '[;{}()=<>\\[\\]#]', '', 'g')))
                  + 2.0 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))))
                 / length(text) > 0.3 THEN TRUE ELSE FALSE END AS is_code
FROM documents WHERE length(text) > 0
""",
)
def llm_code_detect(spark, sf_dir):
    """Code-vs-prose screen — the router every mixed crawl needs
    before language-specific processing: code must NOT flow through
    the prose quality gates (llm_quality's stopword/sentence heuristics
    butcher it) and prose must not hit code dedup. The deterministic
    heuristic: density of code-signature characters (braces,
    semicolons, comparison/assignment, brackets, '#') weighted 10×,
    digit density 2×, per character — a linear scorer of the kind
    fastText-style routers distill to, expressed as two
    regexp_replace length-diffs entirely inside codegen (no
    tokenizer, no UDF — ~2 passes over the bytes per doc, embarrassingly
    parallel, no shuffle at all). Threshold 0.3 flags code-like docs;
    on the prose fixture corpus the flag rate is ~0, which is the
    correct reading, while the score column still exercises the full
    distribution for the hash."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n = F.length("text")
    n_sym = n - F.length(F.regexp_replace("text", r"[;{}()=<>\[\]#]", ""))
    n_dig = n - F.length(F.regexp_replace("text", r"[0-9]", ""))
    score = (10.0 * n_sym + 2.0 * n_dig) / n
    return d.select(
        "doc_id",
        F.round(score, 6).alias("code_score"),
        (score > 0.3).alias("is_code"),
    )


@register(
    "llm_split_leakage",
    oracle="""
WITH base AS (
    SELECT doc_id, CASE WHEN doc_id % 10 >= 8 THEN 1 ELSE 0 END AS is_test,
           md5(lower(trim(text))) AS h_exact,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
                                   '\\s+', ' ', 'g'))) AS h_norm
    FROM documents WHERE length(trim(text)) > 0
), tot AS (
    SELECT CAST(SUM(is_test) AS DOUBLE) AS n_test FROM base
), per AS (
    SELECT 'exact' AS dup_class, h_exact AS h, is_test, doc_id FROM base
    UNION ALL
    SELECT 'normalized', h_norm, is_test, doc_id FROM base
), grp AS (
    SELECT dup_class, h, SUM(is_test) AS nt, SUM(1 - is_test) AS ntr
    FROM per GROUP BY 1, 2
), leak AS (
    SELECT dup_class,
           CAST(COUNT(*) FILTER (WHERE nt > 0 AND ntr > 0) AS BIGINT) AS leaking_groups,
           CAST(SUM(CASE WHEN nt > 0 AND ntr > 0 THEN nt * ntr ELSE 0 END) AS BIGINT)
               AS cross_pairs,
           CAST(SUM(CASE WHEN nt > 0 AND ntr > 0 THEN nt ELSE 0 END) AS BIGINT)
               AS test_docs_contaminated
    FROM grp GROUP BY 1
)
SELECT dup_class, leaking_groups, cross_pairs, test_docs_contaminated,
       ROUND(test_docs_contaminated / tot.n_test, 6) AS contamination_rate
FROM leak, tot ORDER BY dup_class
""",
)
def llm_split_leakage(spark, sf_dir):
    """Train/test split-leakage audit — the eval-integrity check that
    must run BEFORE any benchmark number is believed: documents whose
    content (exact hash) or near-content (aggressively normalized
    hash: lowercased, de-punctuated, whitespace-collapsed — catches
    the trivially-perturbed copies that slip exact dedup) appears on
    BOTH sides of the split inflate eval scores by memorization, the
    contamination llm_contamination measures against an EXTERNAL
    benchmark, here measured against the pipeline's OWN holdout.
    Split = doc_id%10 (ml_split's cluster-stable bucket idiom). One
    hash shuffle per dup class (unioned, so one pass over the corpus
    feeds both); per-group train/test tallies, cross pairs
    (n_train·n_test), and the contaminated-test-doc rate. The MinHash
    escalation for paraphrase-level leakage is llm_dedup_fuzzy
    composed over the same split key."""
    base = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            (F.col("doc_id") % 10 >= 8).cast("int").alias("is_test"),
            F.md5(F.lower(F.trim("text"))).alias("h_exact"),
            F.md5(
                F.trim(
                    F.regexp_replace(
                        F.regexp_replace(F.lower("text"), "[^a-z ]", ""), r"\s+", " "
                    )
                )
            ).alias("h_norm"),
        )
    )
    tot = base.agg(F.sum("is_test").cast("double").alias("n_test"))
    per = base.select(
        F.lit("exact").alias("dup_class"), F.col("h_exact").alias("h"), "is_test"
    ).unionByName(
        base.select(
            F.lit("normalized").alias("dup_class"), F.col("h_norm").alias("h"), "is_test"
        )
    )
    grp = per.groupBy("dup_class", "h").agg(
        F.sum("is_test").alias("nt"), F.sum(1 - F.col("is_test")).alias("ntr")
    )
    leaking = (F.col("nt") > 0) & (F.col("ntr") > 0)
    leak = grp.groupBy("dup_class").agg(
        F.sum(leaking.cast("int")).cast("bigint").alias("leaking_groups"),
        F.sum(F.when(leaking, F.col("nt") * F.col("ntr")).otherwise(0))
        .cast("bigint")
        .alias("cross_pairs"),
        F.sum(F.when(leaking, F.col("nt")).otherwise(0))
        .cast("bigint")
        .alias("test_docs_contaminated"),
    )
    return (
        leak.crossJoin(F.broadcast(tot))
        .select(
            "dup_class",
            "leaking_groups",
            "cross_pairs",
            "test_docs_contaminated",
            F.round(F.col("test_docs_contaminated") / F.col("n_test"), 6).alias(
                "contamination_rate"
            ),
        )
        .orderBy("dup_class")
    )


@register(
    "llm_readability",
    oracle="""
WITH base AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS words,
         GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences
  FROM documents WHERE length(trim(text)) > 0
), counted AS (
  SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(words,
              w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+')))))
              AS BIGINT) AS n_syllables
  FROM base
)
SELECT doc_id, n_sentences, n_words, n_syllables,
       ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
           AS flesch_ease,
       ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 6)
           AS fk_grade
FROM counted
""",
)
def llm_readability(spark, sf_dir):
    """Flesch Reading Ease + Flesch–Kincaid grade per document — the
    century-old readability pair that modern corpus pipelines still
    gate on (too-hard and too-trivial text both correlate with low
    training value; FK-grade bands also drive curriculum ordering).
    Syllables are approximated the standard way — vowel GROUPS per
    word ([aeiouy]+ runs), floored at 1 — and the whole computation
    is NARROW: split → per-element transform → aggregate inside one
    projection, no explode, no shuffle, no Python boundary
    (higher-order functions stay in codegen). Sentence count floors
    at 1 so punctuation-free docs (this fixture's corpus) read as one
    long sentence instead of dividing by zero. Integer counts make
    every division cross-engine identical. Cites the same whitespace
    tokenization contract as llm_textstats/llm_tokens."""
    d = t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0)))
    ).cast("bigint")
    syl = F.expr(
        "aggregate(transform(split(trim(text), '\\\\s+'), "
        "w -> greatest(1, size(regexp_extract_all(w, '[aeiouy]+', 0)))), "
        "0L, (a, x) -> a + x)"
    )
    counted = d.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_words"),
        syl.cast("bigint").alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return counted.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6).alias(
            "flesch_ease"
        ),
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6).alias(
            "fk_grade"
        ),
    )


@register(
    "llm_mattr",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE length(trim(text)) > 0
), stats AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(words)) AS BIGINT) AS n_types,
         CASE WHEN len(words) >= 50 THEN
           CAST(list_sum(list_transform(range(1, len(words) - 50 + 2),
                i -> len(list_distinct(list_slice(words, i, i + 49)))))
                AS DOUBLE) / (50.0 * (len(words) - 50 + 1))
         ELSE
           CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
         END AS mattr
  FROM base
)
SELECT doc_id, n_tokens,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
       ROUND(mattr, 6) AS mattr
FROM stats
""",
)
def llm_mattr(spark, sf_dir):
    """Moving-average type-token ratio (MATTR, Covington & McFall
    2010) — the lexical-diversity score that fixes plain TTR's fatal
    length bias (TTR falls mechanically as documents grow, so
    filtering a mixed-length corpus on raw TTR just filters on
    LENGTH): average the type ratio over every 50-token sliding
    window instead, and short docs fall back to plain TTR. Low MATTR
    flags the keyword-stuffed/templated text that llm_repetition
    catches only when the repeat is verbatim. The whole computation
    is one NARROW higher-order-function projection (sequence →
    slice → array_distinct inside codegen, summing exact INTEGER
    type-counts, one double division at the end) — no explode, no
    shuffle, no Python; O(n·W) work per row rides the scan. Window
    arithmetic is spelled to the same element set in both engines
    (Spark slice takes a LENGTH, DuckDB list_slice an inclusive
    end)."""
    d = t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    w = 50
    mattr_long = (
        F.expr(
            f"CAST(aggregate(transform(sequence(1, size(split(trim(text), '\\\\s+')) - {w} + 1), "
            f"i -> size(array_distinct(slice(split(trim(text), '\\\\s+'), i, {w})))), "
            f"0L, (a, x) -> a + x) AS DOUBLE)"
        )
        / (
            F.lit(float(w))
            * (F.size(F.split(F.trim("text"), r"\s+")) - F.lit(w) + 1)
        )
    )
    n_tokens = F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")
    n_types = F.size(F.array_distinct(F.split(F.trim("text"), r"\s+"))).cast("bigint")
    ttr = n_types.cast("double") / n_tokens
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(ttr, 6).alias("ttr"),
        F.round(F.when(n_tokens >= w, mattr_long).otherwise(ttr), 6).alias("mattr"),
    )


def _greedy_coverage_oracle(k: int = 10) -> str:
    r"""Unrolled greedy facility-location CTEs: sel{i} picks the doc with
    the max marginal vocabulary gain over everything sel{1..i-1}
    covers, ties broken on doc_id — mirroring the Spark driver loop."""
    ctes = [
        r"""toks AS MATERIALIZED (
    SELECT DISTINCT doc_id, word FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))
                   AS word
        FROM (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
        ) WHERE len(w) >= 2
    )
)""",
        "uni AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS u FROM toks)",
    ]
    for i in range(1, k + 1):
        if i == 1:
            not_covered = "toks"
        else:
            prev_sel = " UNION ALL ".join(
                f"SELECT doc_id FROM sel{j}" for j in range(1, i)
            )
            not_covered = f"""(
        SELECT t.doc_id, t.word FROM toks t
        WHERE NOT EXISTS (
            SELECT 1 FROM toks c
            JOIN ({prev_sel}) s ON s.doc_id = c.doc_id
            WHERE c.word = t.word
        )
    )"""
        ctes.append(
            f"""sel{i} AS MATERIALIZED (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain, {i} AS rank
    FROM {not_covered} nc
    GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1
)"""
        )
    allsel = " UNION ALL ".join(
        f"SELECT rank, doc_id, gain FROM sel{i}" for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s.rank, s.doc_id, s.gain,
       CAST(SUM(s.gain) OVER (ORDER BY s.rank) AS BIGINT) AS covered,
       FLOOR(CAST(SUM(s.gain) OVER (ORDER BY s.rank) AS DOUBLE) / u.u
             * 1000000 + 0.5) / 1000000 AS coverage_pct
FROM ({allsel}) s, uni u
"""
    )


@register("llm_greedy_coverage", oracle=_greedy_coverage_oracle())
def llm_greedy_coverage(spark, sf_dir):
    """Greedy submodular data selection (facility location on vocabulary
    coverage) — pick the 10 documents that together cover the most
    distinct BIGRAMS (unigram coverage saturates in a single pick on
    this corpus's tiny vocabulary; pair coverage has real structure),
    the canonical 'diverse subset' selector behind
    coreset curation and eval-set construction. Greedy is the right
    algorithm, not a shortcut: for monotone submodular objectives it
    is (1 - 1/e)-optimal (Nemhauser 1978) while exact selection is
    NP-hard. Each of the 10 rounds is pure relational algebra on the
    ckpt'd (doc, bigram) table: anti-join the already-covered
    bigram set (bigram-keyed shuffle), count marginal gains per doc,
    take the deterministic argmax (gain DESC, doc_id) — no collect;
    the selected set stays a DataFrame the next round semi-joins
    against. Gains are exact integers, so cross-engine parity needs no
    quantization anywhere; coverage_pct divides two exact counts.
    The oracle unrolls the identical 10 rounds as CTEs."""
    bigram_expr = (
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    toks = ckpt(
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(F.expr(bigram_expr)).alias("word"))
        .distinct()
    )
    uni = toks.agg(F.countDistinct("word").cast("bigint").alias("u"))
    selected = None
    picks = []
    for i in range(1, 11):
        if selected is None:
            gains_src = toks
        else:
            covered = (
                toks.join(selected.select("doc_id"), "doc_id", "semi")
                .select("word")
                .distinct()
            )
            gains_src = toks.join(covered, "word", "left_anti")
        pick = ckpt(
            gains_src.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .withColumn("rank", F.lit(i))
        )
        picks.append(pick)
        # r13b negative result: recomposing `selected` as a LAZY union
        # of the already-checkpointed picks (dropping this eager ckpt)
        # measured 3.61 s → 7.49 s isolated at sf0.1 — the one-row
        # re-materialization per round is cheaper than what the lazy
        # union chain costs the downstream semi-join's planning. Kept
        # eager deliberately (contrast: graph_closeness, where the
        # same lazy-union cut DID win — its visited set is only an
        # anti-join build side, never re-planned per round).
        selected = pick if selected is None else ckpt(selected.unionByName(pick))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        out.crossJoin(F.broadcast(uni))
        .select(
            "rank",
            "doc_id",
            "gain",
            F.sum("gain").over(w).cast("bigint").alias("covered"),
            qround(F.sum("gain").over(w).cast("double") / F.col("u")).alias("coverage_pct"),
        )
    )


@register(
    "llm_hill_tail_index",
    oracle=r"""
WITH words AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE length(trim(text)) > 0
), freqs AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM words GROUP BY 1
), ranked AS (
    SELECT f, CAST(ROW_NUMBER() OVER (ORDER BY f DESC, word) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS v
    FROM freqs
), k AS (
    SELECT CAST(GREATEST(v // 10, 5) AS BIGINT) AS k, v FROM ranked WHERE rn = 1
), hill AS (
    SELECT k.k, k.v,
           (SELECT f FROM ranked WHERE rn = k.k + 1) AS fk1,
           CAST(SUM(CASE WHEN r.rn <= k.k
                         THEN CAST(FLOOR(ln(CAST(r.f AS DOUBLE)
                                   / (SELECT f FROM ranked WHERE rn = k.k + 1))
                                   * 1e9 + 0.5) AS DECIMAL(38,9))
                         ELSE 0 END) AS DOUBLE) / 1e9 AS slogs
    FROM ranked r, k
    GROUP BY 1, 2, 3
)
SELECT v AS vocab_size, k AS k_top, fk1 AS threshold_freq,
       FLOOR(CAST(k AS DOUBLE) / slogs * 1000000 + 0.5) / 1000000 AS hill_alpha,
       FLOOR(slogs / k * 1000000 + 0.5) / 1000000 AS mean_log_excess
FROM hill
""",
)
def llm_hill_tail_index(spark, sf_dir):
    """Hill estimator of the word-frequency tail index — the MLE
    counterpart to llm_zipf_fit's regression slope: alpha =
    k / sum_{i<=k} ln(f_(i)/f_(k+1)) over the top-k order statistics,
    the standard measure of HOW heavy the head of a corpus is
    (heavier head -> dedup and stopword policies bite harder; the two
    estimators disagreeing is itself a deviation-from-power-law
    signal). k adapts as max(vocab/10, 5). Exact integer frequency
    ranks (word tiebreak), each log-excess q9-quantized into a
    DECIMAL sum, one division at the end. One token aggregate + one
    ordered window over the vocabulary frame."""
    d = t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    freqs = ckpt(
        d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    ranked = ckpt(
        freqs.select(
            "f",
            F.row_number()
            .over(Window.orderBy(F.desc("f"), F.asc("word")))
            .cast("bigint")
            .alias("rn"),
        ).crossJoin(
            F.broadcast(freqs.agg(F.count(F.lit(1)).cast("bigint").alias("v")))
        )
    )
    k = ranked.filter(F.col("rn") == 1).select(
        F.greatest((F.col("v") / 10).cast("bigint"), F.lit(5).cast("bigint")).alias("k")
    )
    fk1 = (
        ranked.crossJoin(F.broadcast(k))
        .filter(F.col("rn") == F.col("k") + 1)
        .select(F.col("f").alias("fk1"))
    )
    hill = (
        ranked.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(fk1))
        .filter(F.col("rn") <= F.col("k"))
        .agg(
            F.any_value("k").alias("k"),
            F.any_value("v").alias("v"),
            F.any_value("fk1").alias("fk1"),
            qsum(qround(F.log(F.col("f").cast("double") / F.col("fk1")), 9), 9).alias("slogs"),
        )
    )
    return hill.select(
        F.col("v").alias("vocab_size"),
        F.col("k").alias("k_top"),
        F.col("fk1").alias("threshold_freq"),
        qround(F.col("k").cast("double") / F.col("slogs")).alias("hill_alpha"),
        qround(F.col("slogs") / F.col("k")).alias("mean_log_excess"),
    )


def _doclen_oracle() -> str:
    from .ml import _ERFC_AS

    phi = f"(0.5 * (1.0 + {_ERFC_AS.format(x='(z) / sqrt(2.0)')}))"
    return f"""
WITH lens AS (
    SELECT FLOOR(ln(CAST(n_chars AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS l
    FROM documents WHERE n_chars > 0
), mom AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(l * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE) / 1e9
               AS sl,
           CAST(SUM(CAST(FLOOR(l * l * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE) / 1e9
               AS sll
    FROM lens
), par AS (
    SELECT n, sl / n AS mu,
           sqrt((sll - sl * sl / n) / (n - 1.0)) AS sigma
    FROM mom
), zs AS (
    SELECT FLOOR((l.l - p.mu) / p.sigma * 1e9 + 0.5) / 1e9 AS z,
           CAST(ROW_NUMBER() OVER (ORDER BY l.l) AS BIGINT) AS i, p.n
    FROM lens l, par p
), ks AS (
    SELECT MAX(GREATEST(
               abs(CAST(i AS DOUBLE) / n
                   - (FLOOR({phi} * 1e9 + 0.5) / 1e9)),
               abs((FLOOR({phi} * 1e9 + 0.5) / 1e9)
                   - (CAST(i AS DOUBLE) - 1.0) / n))) AS d
    FROM zs
)
SELECT CAST(p.n AS BIGINT) AS n_docs,
       FLOOR(p.mu * 1000000 + 0.5) / 1000000 AS mu_log,
       FLOOR(p.sigma * 1000000 + 0.5) / 1000000 AS sigma_log,
       FLOOR(exp(FLOOR((p.mu + p.sigma * p.sigma / 2.0) * 1e9 + 0.5) / 1e9)
             * 1000000 + 0.5) / 1000000 AS implied_mean_chars,
       FLOOR(k.d * 1000000 + 0.5) / 1000000 AS ks_distance,
       k.d > 1.358 / sqrt(p.n) AS reject_lognormal
FROM par p, ks k
"""


@register("llm_doclen_lognormal", oracle=_doclen_oracle())
def llm_doclen_lognormal(spark, sf_dir):
    """Log-normal fit + one-sample KS test of the document-length
    distribution — the canonical model for text lengths (products of
    independent growth factors), and the statistic a curriculum or
    packing policy (llm_pack, llm_token_budget_trim) should check
    before assuming 'typical' lengths exist: a heavy-tailed rejection
    means length-capping decisions move real mass. Fit is closed-form
    (mu, sigma of ln n_chars, DECIMAL moments), the KS distance is the
    exact sup over order statistics max(|i/n - Phi(z_i)|,
    |Phi(z_i) - (i-1)/n|) with the shared erf-polynomial Phi, and the
    1.358/sqrt(n) 5% asymptotic critical value gives the decision.
    One scan + one ordered window; implied mean length exp(mu +
    sigma^2/2) reported for the practitioner."""
    from .ml import _ERFC_AS

    lens = (
        t(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select(qround(F.log(F.col("n_chars").cast("double")), 9).alias("l"))
    )
    lens = ckpt(lens)
    mom = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        qsum(F.col("l"), 9).alias("sl"),
        qsum(F.col("l") * F.col("l"), 9).alias("sll"),
    )
    par = mom.select(
        "n",
        (F.col("sl") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("sll") - F.col("sl") * F.col("sl") / F.col("n"))
            / (F.col("n") - F.lit(1.0))
        ).alias("sigma"),
    )
    zs = lens.crossJoin(F.broadcast(par)).select(
        qround((F.col("l") - F.col("mu")) / F.col("sigma"), 9).alias("z"),
        F.row_number().over(Window.orderBy("l")).cast("bigint").alias("i"),
        "n",
    )
    phi = qround(
        F.expr("0.5 * (1.0 + " + _ERFC_AS.format(x="(z) / sqrt(2.0)") + ")"),
        9,
    )
    ks = zs.agg(
        F.max(
            F.greatest(
                F.abs(F.col("i").cast("double") / F.col("n") - phi),
                F.abs(phi - (F.col("i").cast("double") - F.lit(1.0)) / F.col("n")),
            )
        ).alias("d")
    )
    return par.crossJoin(F.broadcast(ks)).select(
        F.col("n").cast("bigint").alias("n_docs"),
        qround(F.col("mu")).alias("mu_log"),
        qround(F.col("sigma")).alias("sigma_log"),
        qround(
            F.exp(qround(F.col("mu") + F.col("sigma") * F.col("sigma") / F.lit(2.0), 9))
        ).alias("implied_mean_chars"),
        qround(F.col("d")).alias("ks_distance"),
        (F.col("d") > F.lit(1.358) / F.sqrt("n")).alias("reject_lognormal"),
    )


@register(
    "llm_pmi_collocations",
    oracle=r"""
WITH words AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0
), bigrams AS (
    SELECT unnest(list_transform(range(1, len(w)),
                  i -> struct_pack(a := w[i], b := w[i + 1]))) AS bg
    FROM words
), bg AS (
    SELECT bg.a AS a, bg.b AS b, CAST(COUNT(*) AS BIGINT) AS nab
    FROM bigrams GROUP BY 1, 2
), uni AS (
    SELECT unnest(w) AS word FROM words
), uc AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY 1
), tot AS (
    SELECT CAST(SUM(n) AS DOUBLE) AS nt,
           CAST(SUM(n) - (SELECT COUNT(*) FROM words) AS DOUBLE) AS nbg
    FROM uc
), pmi AS (
    SELECT g.a, g.b, g.nab,
           FLOOR(ln(
               (g.nab / t.nbg)
               / ((ua.n / t.nt) * (ub.n / t.nt))
           ) * 1e9 + 0.5) / 1e9 AS pmi
    FROM bg g
    JOIN uc ua ON ua.word = g.a
    JOIN uc ub ON ub.word = g.b
    CROSS JOIN tot t
    WHERE g.nab >= 5
)
SELECT a, b, nab,
       FLOOR(pmi * 1000000 + 0.5) / 1000000 AS pmi,
       CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, a, b) AS BIGINT) AS rank
FROM pmi ORDER BY rank LIMIT 20
""",
)
def llm_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocation mining (Church & Hanks)
    — the top word PAIRS that co-occur far beyond chance: PMI =
    ln[p(a,b) / (p(a)p(b))] over adjacent bigrams with a minimum-count
    floor of 5 (raw PMI's notorious rare-pair bias is exactly why the
    floor is part of the contract). This is what phrase-vocabulary
    induction and multi-word-expression detection run on a corpus
    before tokenizer training; complements llm_ngram_freq (raw counts
    rank 'of the'; PMI ranks genuine collocations). One bigram
    aggregate + one unigram aggregate + two marginal joins (unigram
    table bounded by vocabulary — broadcast at any corpus size);
    ln q9-quantized, top-20 rank-deterministic."""
    d = t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    words = ckpt(d.select(F.split(F.lower(F.trim("text")), r"\s+").alias("w")))
    bigram_expr = (
        "transform(sequence(1, size(w) - 1),"
        " i -> named_struct('a', element_at(w, i), 'b', element_at(w, i + 1)))"
    )
    bg = (
        words.filter(F.size("w") >= 2)
        .select(F.explode(F.expr(bigram_expr)).alias("bg"))
        .groupBy(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
    )
    uc = ckpt(
        words.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    n_docs = words.count()  # bounded driver scalar (doc count for bigram total)
    tot = uc.agg(
        F.sum("n").cast("double").alias("nt"),
        (F.sum("n") - F.lit(n_docs)).cast("double").alias("nbg"),
    )
    ua = uc.select(F.col("word").alias("a"), F.col("n").alias("na"))
    ub = uc.select(F.col("word").alias("b"), F.col("n").alias("nb"))
    pmi = (
        bg.filter(F.col("nab") >= 5)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "nab",
            qround(
                F.log(
                    (F.col("nab") / F.col("nbg"))
                    / ((F.col("na") / F.col("nt")) * (F.col("nb") / F.col("nt")))
                ),
                9,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
    return (
        pmi.select("a", "b", "nab", qround(F.col("pmi")).alias("pmi"),
                   F.row_number().over(w).cast("bigint").alias("rank"))
        .filter(F.col("rank") <= 20)
        .orderBy("rank")
    )


@register(
    "llm_burrows_delta",
    oracle=r"""
WITH toks AS (
    SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
    FROM documents WHERE length(trim(text)) > 0
), top_words AS (
    SELECT word FROM (
        SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS r
        FROM toks GROUP BY 1
    ) WHERE r <= 30
), lang_tot AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS nt FROM toks GROUP BY 1
), lw AS (
    SELECT t.lang, w.word,
           FLOOR(CAST(COUNT(t.word) AS DOUBLE) / ANY_VALUE(lt.nt) * 1e9 + 0.5) / 1e9
               AS f
    FROM top_words w
    CROSS JOIN lang_tot lt
    LEFT JOIN toks t ON t.word = w.word AND t.lang = lt.lang
    GROUP BY t.lang, w.word, lt.lang
), lwf AS (
    SELECT lt.lang, w.word, COALESCE(lw.f, 0.0) AS f
    FROM top_words w CROSS JOIN lang_tot lt
    LEFT JOIN lw ON lw.lang = lt.lang AND lw.word = w.word
), wstats AS (
    SELECT word,
           FLOOR(AVG(f) * 1e9 + 0.5) / 1e9 AS m,
           FLOOR(sqrt(AVG(f * f) - AVG(f) * AVG(f)) * 1e9 + 0.5) / 1e9 AS s
    FROM lwf GROUP BY 1
), z AS (
    SELECT l.lang, l.word,
           FLOOR((l.f - w.m) / w.s * 1e9 + 0.5) / 1e9 AS z
    FROM lwf l JOIN wstats w ON w.word = l.word
    WHERE w.s > 0
), pairs AS (
    SELECT a.lang AS l1, b.lang AS l2,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(CAST(FLOOR(abs(a.z - b.z) * 1e9 + 0.5) AS DECIMAL(38,9)))
                AS DOUBLE) / 1e9 / COUNT(*) AS delta
    FROM z a JOIN z b ON a.word = b.word AND a.lang < b.lang
    GROUP BY 1, 2
)
SELECT l1, l2, n_words,
       FLOOR(delta * 1000000 + 0.5) / 1000000 AS delta,
       CAST(ROW_NUMBER() OVER (ORDER BY delta, l1, l2) AS BIGINT) AS rank
FROM pairs ORDER BY rank
""",
)
def llm_burrows_delta(spark, sf_dir):
    """Burrows' Delta between the language subcorpora — THE stylometry
    distance (authorship attribution's workhorse): z-score each
    high-frequency word's relative frequency across the groups, then
    Delta(a, b) = mean |z_a - z_b| over the top-30 word list. High-
    frequency 'function' words carry style/provenance signal that
    content words don't — which is why this same statistic doubles as
    a contamination/provenance probe between corpus slices. All
    frequencies, means, stds and z's are q9-quantized at each float
    boundary (population std over the 5 groups), the pair sum rides
    DECIMAL, zero-variance words drop on both sides identically.
    Bounded everywhere after the one token aggregate: 30 words x 5
    groups x 10 pairs."""
    toks = ckpt(
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("lang", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    )
    top_words = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "word",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("word"))).alias("r"),
        )
        .filter(F.col("r") <= 30)
        .select("word")
    )
    lang_tot = toks.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    counts = toks.join(F.broadcast(top_words), "word").groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    lwf = (
        top_words.crossJoin(F.broadcast(lang_tot))
        .join(counts, ["lang", "word"], "left")
        .select(
            "lang",
            "word",
            F.coalesce(
                qround(F.col("c").cast("double") / F.col("nt"), 9), F.lit(0.0)
            ).alias("f"),
        )
    )
    lwf = ckpt(lwf)
    wstats = lwf.groupBy("word").agg(
        qround(F.avg("f"), 9).alias("m"),
        qround(
            F.sqrt(F.avg(F.col("f") * F.col("f")) - F.avg("f") * F.avg("f")),
            9,
        ).alias("s"),
    )
    z = (
        lwf.join(F.broadcast(wstats), "word")
        .filter(F.col("s") > 0)
        .select("lang", "word", qround((F.col("f") - F.col("m")) / F.col("s"), 9).alias("z"))
    )
    a = z.select(F.col("lang").alias("l1"), "word", F.col("z").alias("z1"))
    b = z.select(F.col("lang").alias("l2"), "word", F.col("z").alias("z2"))
    pairs = (
        a.join(b, "word")
        .filter(F.col("l1") < F.col("l2"))
        .groupBy("l1", "l2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            (
                qsum(F.abs(F.col("z1") - F.col("z2")), 9)
                / F.count(F.lit(1))
            ).alias("delta"),
        )
    )
    w = Window.orderBy(F.asc("delta"), F.asc("l1"), F.asc("l2"))
    return pairs.select(
        "l1", "l2", "n_words", qround(F.col("delta")).alias("delta"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    ).orderBy("rank")


@register(
    "llm_dedup_by_source",
    oracle="""
WITH hashed AS (
    SELECT source, md5(lower(trim(text))) AS h
    FROM documents WHERE length(trim(text)) > 0
), dup_groups AS (
    SELECT h FROM hashed GROUP BY h HAVING COUNT(*) > 1
), pairs AS (
    SELECT LEAST(a.source, b.source) AS source_a,
           GREATEST(a.source, b.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM hashed a
    JOIN hashed b ON b.h = a.h
    JOIN dup_groups g ON g.h = a.h
    WHERE a.source < b.source
    GROUP BY 1, 2
), within AS (
    SELECT source AS source_a, source AS source_b,
           CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS n_dup_pairs
    FROM (SELECT h, source, COUNT(*) AS c FROM hashed GROUP BY 1, 2)
    WHERE c > 1
    GROUP BY 1
)
SELECT source_a, source_b, n_dup_pairs FROM pairs
UNION ALL
SELECT source_a, source_b, n_dup_pairs FROM within
""",
)
def llm_dedup_by_source(spark, sf_dir):
    """Provenance-resolved exact-duplicate matrix — not just 'how many
    dups' (llm_dedup_exact) but WHO copies WHOM: for every pair of
    sources, the count of cross-source duplicate document pairs, plus
    each source's internal duplicate pairs on the diagonal. This is
    the forensics table a corpus curator reads before deciding which
    source to drop (a mirror site shows up as one huge off-diagonal
    cell; a crawler bug as a diagonal one). One hash aggregate
    (sha-normalized text, the llm_dedup_exact discipline), duplicate
    groups joined back once — pair counts come from per-group
    source-count products, never materializing the pairs at fact
    scale. Exact integers throughout."""
    hashed = ckpt(
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("source", F.md5(F.lower(F.trim("text"))).alias("h"))
    )
    per_hs = hashed.groupBy("h", "source").agg(F.count(F.lit(1)).alias("c"))
    dup_groups = (
        per_hs.groupBy("h").agg(F.sum("c").alias("tot")).filter(F.col("tot") > 1)
    )
    hs = per_hs.join(dup_groups.select("h"), "h")
    a = hs.select("h", F.col("source").alias("sa"), F.col("c").alias("ca"))
    b = hs.select("h", F.col("source").alias("sb"), F.col("c").alias("cb"))
    cross = (
        a.join(b, "h")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy(F.col("sa").alias("source_a"), F.col("sb").alias("source_b"))
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("n_dup_pairs"))
    )
    within = (
        hs.filter(F.col("c") > 1)
        .groupBy(F.col("source").alias("source_a"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("bigint").alias("n_dup_pairs")
        )
        .select("source_a", F.col("source_a").alias("source_b"), "n_dup_pairs")
        .filter(F.col("n_dup_pairs") > 0)
        .select("source_a", "source_b", "n_dup_pairs")
    )
    return cross.unionByName(within)


@register(
    "llm_source_diversity",
    oracle="""
WITH counts AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM counts),
terms AS (
    SELECT c.n / tot.t AS p,
           (c.n / tot.t)
               * (FLOOR(ln(c.n / tot.t) * 1e9 + 0.5) / 1e9) AS plogp,
           (c.n / tot.t) * (c.n / tot.t) AS p2
    FROM counts c, tot
), agg AS (
    SELECT CAST((SELECT COUNT(*) FROM counts) AS BIGINT) AS k,
           -CAST(SUM(CAST(FLOOR(plogp * 1e12 + 0.5) AS DECIMAL(38,12)))
                 AS DOUBLE) / 1e12 AS h,
           CAST(SUM(CAST(FLOOR(p2 * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS simpson
    FROM terms
)
SELECT k AS n_sources,
       FLOOR(h * 1000000 + 0.5) / 1000000 AS shannon_nats,
       FLOOR(exp(FLOOR(h * 1e9 + 0.5) / 1e9) * 1000000 + 0.5) / 1000000
           AS effective_sources_shannon,
       FLOOR(1.0 / simpson * 1000000 + 0.5) / 1000000
           AS effective_sources_simpson,
       FLOOR(h / (FLOOR(ln(CAST(k AS DOUBLE)) * 1e9 + 0.5) / 1e9)
             * 1000000 + 0.5) / 1000000 AS evenness
FROM agg
""",
)
def llm_source_diversity(spark, sf_dir):
    """Corpus provenance diversity — Shannon and inverse-Simpson
    EFFECTIVE source counts (Hill numbers q=1 and q=2) plus Pielou
    evenness: the numbers that answer 'is this a 10-source corpus or
    a 1.5-source corpus wearing 10 labels?' — which is what provenance
    diversity claims on dataset cards should actually report (raw
    source COUNTS hide a 95% single-source skew; effective numbers
    don't, and q=2 punishes dominance harder than q=1). One tiny
    aggregate over the source column; ln q9-quantized, entropy/Simpson
    terms in q12 DECIMAL. Complements llm_corpus_card (volumes) and
    llm_dedup_by_source (who copies whom) as the third provenance
    lens."""
    counts = ckpt(
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    terms = with_stats(counts, F.sum("n").cast("double").alias("t")).select(
        (F.col("n") / F.col("t")).alias("p")
    ).select(
        qdec(F.col("p") * qround(F.log("p"), 9), 12).alias("plogp"),
        qdec(F.col("p") * F.col("p"), 12).alias("p2"),
    )
    k = counts.count()  # bounded source-domain scalar
    agg = terms.agg(
        (-F.sum("plogp").cast("double") / F.lit(1e12)).alias("h"),
        (F.sum("p2").cast("double") / F.lit(1e12)).alias("simpson"),
    )
    return agg.select(
        F.lit(k).cast("bigint").alias("n_sources"),
        qround(F.col("h")).alias("shannon_nats"),
        qround(F.exp(qround(F.col("h"), 9))).alias("effective_sources_shannon"),
        qround(F.lit(1.0) / F.col("simpson")).alias("effective_sources_simpson"),
        qround(F.col("h") / qround(F.log(F.lit(float(k))), 9)).alias("evenness"),
    )


@register(
    "llm_self_similarity",
    oracle=r"""
WITH docs AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS n,
           string_split_regex(lower(trim(text)), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0
), grams AS (
    SELECT rn, n,
           list_distinct(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i + 1])) AS bg
    FROM docs WHERE len(w) >= 2
), pairs AS (
    SELECT a.rn AS ra,
           CAST(len(list_intersect(a.bg, b.bg)) AS BIGINT) AS inter,
           CAST(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))
                AS BIGINT) AS uni
    FROM grams a JOIN grams b ON b.rn = a.rn + a.n // 2
), scored AS (
    SELECT FLOOR(CAST(inter AS DOUBLE) / uni * 1e9 + 0.5) / 1e9 AS j FROM pairs
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       FLOOR(CAST(SUM(CAST(FLOOR(j * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
             / 1e9 / COUNT(*) * 1000000 + 0.5) / 1000000 AS mean_jaccard,
       FLOOR(CAST(SUM(CASE WHEN j > 0.5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             * 1000000 + 0.5) / 1000000 AS share_near_dup
FROM scored
""",
)
def llm_self_similarity(spark, sf_dir):
    """Corpus self-similarity probe (the Self-BLEU idea made exact and
    cheap): pair each document with the one half-a-corpus away in
    doc_id rank — a DETERMINISTIC stand-in for random pairing — and
    measure mean bigram-set Jaccard plus the share of pairs above 0.5.
    A template-generated or boilerplate-heavy corpus shows high
    self-similarity BETWEEN UNRELATED documents, which per-pair dedup
    (llm_dedup_*) never surfaces because no individual pair crosses
    its threshold; this is the corpus-level diversity number. O(n)
    pairs by construction (one offset self-join, never n^2), exact
    integer set sizes, one division per pair q9-quantized into the
    DECIMAL mean."""
    bigram_expr = (
        "array_distinct(transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1))))"
    )
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w"))
        .filter(F.size("w") >= 2)
    )
    grams = ckpt(
        docs.select(
            F.row_number().over(Window.orderBy("doc_id")).cast("bigint").alias("rn"),
            F.expr(bigram_expr).alias("bg"),
        ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint"))
    )
    a = grams.select("rn", "n", F.col("bg").alias("ba"))
    b = grams.select(F.col("rn").alias("rb"), F.col("bg").alias("bb"))
    inter = F.size(F.array_intersect("ba", "bb")).cast("bigint")
    uni = (F.size("ba") + F.size("bb")).cast("bigint") - inter
    pairs = a.join(
        b, F.col("rb") == F.col("rn") + (F.col("n") / 2).cast("bigint")
    ).select(qround(inter.cast("double") / uni, 9).alias("j"))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        qround(
            qsum(F.col("j"), 9)
            / F.count(F.lit(1))
        ).alias("mean_jaccard"),
        qround(
            F.sum(F.when(F.col("j") > 0.5, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("share_near_dup"),
    )
