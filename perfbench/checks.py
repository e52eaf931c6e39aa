"""Output checks: expected results from DuckDB, compared after each op.

``expectations`` runs in the parent process, before the measured process
starts, so DuckDB's queries stay out of the measurement (the measured
process only loads the library, at its first check, for the canonical-row
helper). It returns
plain data (pickled for the child). ``check`` runs in the measured
process on the pandas result of an op, outside every timed region, and
returns an error message or None.

Registry keys compare the order-insensitive canonical row multiset with
their DuckDB oracle, exactly as tests/oracle_utils does. The pipelines and
the two raw LSH paths have no oracle twin and get a twin or an invariant:

- pipe_churn: DuckDB recomputes the ``churned`` label per user; every
  user appears once, with a probability in [0, 1].
- pipe_llm_corpus: DuckDB recomputes the exact-dedup survivors; Python
  recomputes the md5-based mixture draw, so ``is_sampled`` must match.
- raw_dedup_fuzzy: pairs are ordered and unique, each reported Jaccard
  distance is within 0.05 of the exact 3-word-shingle distance (feature
  hashing can merge shingles) and at most the 0.6 threshold, and every
  pair of identical shingle sets is found (identical sets share every
  MinHash bucket).
- raw_simsearch_ann: queries are vec_id < 5, no self-matches, ranks run
  1..n<=10 per query in (distance, id) order, and each distance equals
  the exact L2 distance.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import duckdb
import numpy as np

from tests.oracle_utils import _canon_frame, duck_connect

CHURN_CUTOFF = "2024-01-29 20:00:00"
FUZZY_MAX_DIST = 0.6
FUZZY_TOL = 0.05

_CORPUS_SURVIVORS = r"""
WITH scored AS (
  SELECT doc_id, source, n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         md5(lower(trim(text))) AS h
  FROM documents),
gated AS (SELECT * FROM scored WHERE n_words >= 10 AND n_chars >= 50),
surv AS (SELECT h, min(doc_id) AS doc_id FROM gated GROUP BY h)
SELECT g.doc_id, g.source, g.n_words FROM gated g JOIN surv USING (h, doc_id)
"""


def _shingles(text: str) -> frozenset:
    w = text.strip().lower().split()
    return frozenset(" ".join(w[i : i + 3]) for i in range(len(w) - 2))


def _corpus_expected(con: duckdb.DuckDBPyConnection) -> dict[int, bool]:
    rows = con.execute(_CORPUS_SURVIVORS).fetchall()
    src_tokens: Counter = Counter()
    for _, source, n_words in rows:
        src_tokens[source] += n_words
    all_tokens = float(sum(src_tokens.values()))
    n_sources = float(len(src_tokens))
    out = {}
    for doc_id, source, _ in rows:
        keep_w = min((1.0 / n_sources) / (src_tokens[source] / all_tokens), 1.0)
        u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:13], 16) / 4503599627370496.0
        out[doc_id] = u < keep_w
    return out


def expectations(data_dir: str, ops: list[str]) -> dict[str, tuple]:
    """Expected result per op as (kind, row count or None, payload)."""
    from morphl_model_publishers_churning_users_spark.registry import get_oracles

    oracles = get_oracles()
    con = duck_connect(data_dir)
    try:
        out = {}
        for op in ops:
            if op == "pipe_churn":
                labels = dict(
                    con.execute(
                        "SELECT user_id, CASE WHEN max(ts) < TIMESTAMP "
                        f"'{CHURN_CUTOFF}' THEN 1 ELSE 0 END FROM events GROUP BY user_id"
                    ).fetchall()
                )
                out[op] = ("churn", len(labels), labels)
            elif op == "pipe_llm_corpus":
                sampled = _corpus_expected(con)
                out[op] = ("corpus", len(sampled), sampled)
            elif op == "raw_dedup_fuzzy":
                docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
                sh = {d: s for d, s in ((d, _shingles(t)) for d, t in docs) if s}
                by_set = defaultdict(list)
                for d, s in sh.items():
                    by_set[s].append(d)
                must = {
                    (a, b) for ids in by_set.values() for a in ids for b in ids if a < b
                }
                out[op] = ("fuzzy", None, (sh, must))
            elif op == "raw_simsearch_ann":
                emb = con.execute("SELECT vec_id, embedding FROM embeddings").fetchall()
                vecs = {v: np.asarray(e, dtype=np.float64) for v, e in emb}
                out[op] = ("ann", None, vecs)
            else:
                o_df = con.execute(oracles[op]).df()
                out[op] = ("oracle", len(o_df), (sorted(o_df.columns), _canon_frame(o_df)))
        return out
    finally:
        con.close()


def _check_churn(rows, labels) -> str | None:
    seen = {}
    for user_id, churned, prob in rows:
        if user_id in seen:
            return f"user {user_id} scored twice"
        if prob is None or not 0.0 <= prob <= 1.0:
            return f"user {user_id}: churn_prob {prob} outside [0, 1]"
        seen[user_id] = churned
    if seen != labels:
        diff = sorted(set(seen.items()) ^ set(labels.items()))[:5]
        return f"churn labels differ from the DuckDB twin: {diff}"
    return None


def _check_fuzzy(rows, sh, must) -> str | None:
    pairs = set()
    for a, b, dist in rows:
        if not a < b or (a, b) in pairs:
            return f"pair ({a}, {b}) out of order or repeated"
        pairs.add((a, b))
        exact = 1.0 - len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if dist > FUZZY_MAX_DIST + 1e-9 or abs(dist - exact) > FUZZY_TOL:
            return f"pair ({a}, {b}): distance {dist}, exact {exact:.6f}"
    missing = must - pairs
    return f"identical-shingle pairs not found: {sorted(missing)[:5]}" if missing else None


def _check_ann(rows, vecs) -> str | None:
    by_q = defaultdict(list)
    for q, n, dist, rank in rows:
        if q >= 5 or q == n:
            return f"bad pair ({q}, {n})"
        exact = float(np.linalg.norm(vecs[q] - vecs[n]))
        if abs(dist - exact) > 1e-5:
            return f"pair ({q}, {n}): distance {dist}, exact {exact:.6f}"
        by_q[q].append((rank, dist, n))
    for q, hits in by_q.items():
        hits.sort()
        if [r for r, _, _ in hits] != list(range(1, len(hits) + 1)) or len(hits) > 10:
            return f"query {q}: ranks {[r for r, _, _ in hits]}"
        if [(d, n) for _, d, n in hits] != sorted((d, n) for _, d, n in hits):
            return f"query {q}: ranks not in distance order"
    return None


def check(pdf, expected: tuple) -> str | None:
    """Compare one op's pandas result with its expectation."""
    kind, nrows, payload = expected
    if nrows is not None and len(pdf) != nrows:
        return f"{len(pdf)} rows, expected {nrows}"
    rows = list(pdf.itertuples(index=False, name=None))
    if kind == "oracle":
        cols, multiset = payload
        if sorted(pdf.columns) != cols:
            return f"columns {sorted(pdf.columns)}, expected {cols}"
        return None if _canon_frame(pdf) == multiset else "rows differ from the DuckDB oracle"
    if kind == "churn":
        return _check_churn(rows, payload)
    if kind == "corpus":
        got = dict(zip(pdf["doc_id"].tolist(), pdf["is_sampled"].tolist()))
        return None if got == payload else "survivors or is_sampled differ from the DuckDB twin"
    if kind == "fuzzy":
        return _check_fuzzy(rows, *payload)
    if kind == "ann":
        return _check_ann(rows, payload)
    raise ValueError(f"unknown expectation kind {kind!r}")
