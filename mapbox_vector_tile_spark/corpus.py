"""Deterministic synthetic token corpus (FIXTURES.md §1).

Every token is a *closed-form integer function* of ``(doc_id, j)`` using only
``+ * % //`` on int64 — computable bit-identically by vectorized numpy on the
Spark side and by plain SQL on the DuckDB oracle side. That makes the full
encode→decode round trip oracle-checkable: the driver compares aggregates of
our *decoded* tokens against DuckDB evaluating the generator formula directly,
so any codec bug surfaces as a value-hash mismatch.

Regimes (FIXTURES.md token-distribution regimes; each makes one codec optimal,
playing the role of the reference's per-geometry-type round-trip matrix
/root/reference/tests/test_encoder.py:54-129 and its pathological corpus
tests/errors.wkt):

  0 constant     -> CONSTANT/RLE        4 clustered -> FOR_BITPACK
  1 long runs    -> RLE                 5 zipf-ish  -> selector free choice
  2 low card     -> DICT_BITPACK        6 uniform   -> RAW/BITPACK fallback
  3 sorted ids   -> DELTA_ZZ_BITPACK    7 sawtooth  -> zigzag exercise
  8 int32 boundaries (overrides, doc_id % 131 == 13)

Edge-case lengths mixed in (analog of empty-layer / single-point tests,
/root/reference/tests/test_encoder.py:1024-1033,
/root/reference/mapbox_vector_tile/geom_encoder.py:105-108):
``n_tok = 0`` when ``doc_id % 101 == 0``, ``1`` when ``doc_id % 103 == 7``,
outlier ``8192`` when ``doc_id % 127 == 11`` (skew for the size-weighted
partitioner).

All intermediates stay below 2^63 for ``doc_id <= 10^8`` (asserted).
"""

from __future__ import annotations

import numpy as np

MAX_DOC_ID = 100_000_000
MOD = 1_000_000_007  # checksum modulus (pmod on both sides)

SOURCES = ["web", "books", "code", "wiki", "forum"]


# ---------------------------------------------------------------------------
# numpy side
# ---------------------------------------------------------------------------

def regime_of(doc_ids: np.ndarray) -> np.ndarray:
    d = np.asarray(doc_ids, dtype=np.int64)
    return np.where(d % 131 == 13, 8, d % 8)


def n_tok_of(doc_ids: np.ndarray) -> np.ndarray:
    d = np.asarray(doc_ids, dtype=np.int64)
    n = 1 + (d * 7919) % 997
    n = np.where(d % 127 == 11, 8192, n)
    n = np.where(d % 103 == 7, 1, n)
    n = np.where(d % 101 == 0, 0, n)
    return n


def source_of(doc_ids: np.ndarray) -> np.ndarray:
    d = np.asarray(doc_ids, dtype=np.int64)
    return np.array(SOURCES, dtype=object)[(d * 131071) % len(SOURCES)]


def _regime_0(did, j):
    did %= 100
    return did


def _regime_1(did, j):
    # ((did*31 + j//17) * 2654435761) % 100
    j //= 17
    did *= 31
    did += j
    did *= 2654435761
    did %= 100
    return did


def _regime_2(did, j):
    # (did*2654435761 + j*40503) % 64
    did *= 2654435761
    j *= 40503
    did += j
    did %= 64
    return did


def _regime_3(did, j):
    # (did % 1000) + j*8 + ((did*31 + j) * 2654435761) % 8
    t = did * 31
    t += j
    t *= 2654435761
    t %= 8
    did %= 1000
    j *= 8
    did += j
    did += t
    return did


def _regime_4(did, j):
    # 10000 + (did + j*7919) % 256
    j *= 7919
    did += j
    did %= 256
    did += 10000
    return did


def _regime_5(did, j):
    # h = (did*48271 + j*16807) % 2147483647; h%16 if h%4 < 3 else h%50257
    did *= 48271
    j *= 16807
    did += j
    did %= 2147483647
    return np.where(did % 4 < 3, did % 16, did % 50257)


def _regime_6(did, j):
    # ((did*48271 + j*69621) * 16807) % 2147483647
    did *= 48271
    j *= 69621
    did += j
    did *= 16807
    did %= 2147483647
    return did


def _regime_7(did, j):
    # (j % 64) * (1 - 2*(j % 2)) * 17 + did % 7
    sign = j & 1
    sign *= -2
    sign += 1
    j %= 64
    j *= sign
    j *= 17
    did %= 7
    j += did
    return j


_BOUNDARY = np.array([2147483647, -2147483648, 0, -1, 1], dtype=np.int64)


def _regime_8(did, j):
    j %= 5
    return _BOUNDARY[j]


_REGIME_FNS = (
    _regime_0, _regime_1, _regime_2, _regime_3, _regime_4,
    _regime_5, _regime_6, _regime_7, _regime_8,
)


def tokens_flat(doc_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Generate all tokens for ``doc_ids``.

    Returns ``(lengths, values)`` where ``values`` is the int32 concatenation
    of every doc's token array in doc order. Fully vectorized, grouped by
    regime: each regime's tokens are built contiguously from per-regime
    ``(did, j)`` streams and scattered into the doc-order output — no
    full-stream regime masks, no whole-corpus ``did``/``reg``/``j``
    materialization, and no final ``astype`` copy (the scatter assignment
    performs the int32 wraparound cast). The regime formulas run in-place
    on the per-regime streams, which roughly halves the memory traffic per
    token — the binding resource for corpus synthesis on bandwidth-limited
    hosts.
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    if d.size and (int(d.max()) > MAX_DOC_ID or int(d.min()) < 0):
        raise ValueError(f"doc_id out of [0, {MAX_DOC_ID}]")
    lengths = n_tok_of(d)
    regimes = regime_of(d)
    total = int(lengths.sum())
    if total == 0:
        return lengths, np.zeros(0, dtype=np.int32)
    out = np.empty(total, dtype=np.int32)
    doc_start = np.empty(d.size + 1, dtype=np.int64)
    doc_start[0] = 0
    np.cumsum(lengths, out=doc_start[1:])
    for r, fn in enumerate(_REGIME_FNS):
        sel = np.flatnonzero(regimes == r)
        if sel.size == 0:
            continue
        lens_r = lengths[sel]
        tot_r = int(lens_r.sum())
        if tot_r == 0:
            continue
        did = np.repeat(d[sel], lens_r)
        starts_r = np.empty(sel.size, dtype=np.int64)
        starts_r[0] = 0
        np.cumsum(lens_r[:-1], out=starts_r[1:])
        ar = np.arange(tot_r, dtype=np.int64)
        j = ar - np.repeat(starts_r, lens_r)
        # global output position of each regime token: doc_start[doc] + j
        idx = np.repeat(doc_start[sel] - starts_r, lens_r)
        idx += ar
        out[idx] = fn(did, j)  # int64 -> int32 wraparound, as astype did
    return lengths, out


def doc_checksums(
    doc_ids: np.ndarray,
    lengths: np.ndarray,
    values: np.ndarray,
    minmax: bool = True,
):
    """Per-doc order-sensitive checksums of a (possibly decoded) token stream.

    Returns dict of numpy arrays aligned with ``doc_ids``:
    ``tok_cks = pmod(sum(tok))``, ``tok_wcks = pmod(sum((j+1)*tok))``,
    ``tok_min/tok_max`` (None encoded as the sentinel float NaN is avoided —
    callers emit NULL for empty docs; skipped when ``minmax=False`` — the
    verify metadata path only ships the two sums, so the two extra
    reduceat passes would be pure waste there).

    The sums come from prefix-sum differences over the flat stream (one
    int64 cumsum each) instead of per-doc ``reduceat`` over materialized
    ``(j+1)*tok`` / an int64 copy of ``values``: the position-weighted doc
    sum is recovered from the *global*-position-weighted prefix sums via
    ``sum((j+1)v) = sum((g+1)v) - start*sum(v)``. Intermediate prefix sums
    may wrap int64; every step is exact modulo 2**64 and the true per-doc
    results fit in int64, so the wraparound cancels.
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    v = np.asarray(values)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    nonempty = lengths > 0
    n = int(v.size)
    if n:
        cs = np.empty(n + 1, dtype=np.int64)
        cs[0] = 0
        np.cumsum(v, dtype=np.int64, out=cs[1:])
        tok_sum = cs[ends] - cs[starts]
        # weights = global position + 1; reuse cs for the weighted prefix
        w = np.arange(1, n + 1, dtype=np.int64)
        w *= v
        np.cumsum(w, out=cs[1:])
        tok_wsum = cs[ends] - cs[starts]
        tok_wsum -= starts * tok_sum
    else:
        tok_sum = np.zeros(d.size, dtype=np.int64)
        tok_wsum = np.zeros(d.size, dtype=np.int64)
    out = {
        "tok_cks": tok_sum % MOD,  # numpy floor-mod == pmod for MOD > 0
        "tok_wcks": tok_wsum % MOD,
        "nonempty": nonempty,
    }
    if minmax:
        tok_min = np.zeros(d.size, dtype=np.int64)
        tok_max = np.zeros(d.size, dtype=np.int64)
        if n:
            v64 = v if v.dtype == np.int64 else v.astype(np.int64)
            tok_min[nonempty] = np.minimum.reduceat(v64, starts[nonempty])
            tok_max[nonempty] = np.maximum.reduceat(v64, starts[nonempty])
        out["tok_min"] = tok_min
        out["tok_max"] = tok_max
    return out


# ---------------------------------------------------------------------------
# SQL side (DuckDB oracle) — MUST mirror the numpy formulas above exactly
# ---------------------------------------------------------------------------

_TOKEN_CASE_SQL = """
    CASE WHEN u.j IS NULL THEN NULL ELSE CASE p.regime
      WHEN 0 THEN p.doc_id % 100
      WHEN 1 THEN ((p.doc_id*31 + u.j//17) * 2654435761) % 100
      WHEN 2 THEN (p.doc_id*2654435761 + u.j*40503) % 64
      WHEN 3 THEN (p.doc_id % 1000) + u.j*8 + ((p.doc_id*31 + u.j) * 2654435761) % 8
      WHEN 4 THEN 10000 + (p.doc_id + u.j*7919) % 256
      WHEN 5 THEN CASE
          WHEN ((p.doc_id*48271 + u.j*16807) % 2147483647) % 4 < 3
          THEN ((p.doc_id*48271 + u.j*16807) % 2147483647) % 16
          ELSE ((p.doc_id*48271 + u.j*16807) % 2147483647) % 50257 END
      WHEN 6 THEN ((p.doc_id*48271 + u.j*69621) * 16807) % 2147483647
      WHEN 7 THEN (u.j % 64) * (1 - 2*(u.j % 2)) * 17 + p.doc_id % 7
      WHEN 8 THEN CASE u.j % 5
          WHEN 0 THEN 2147483647 WHEN 1 THEN -2147483648
          WHEN 2 THEN 0 WHEN 3 THEN -1 ELSE 1 END
    END END
"""


def params_cte_sql(doc_source: str = "documents") -> str:
    """CTE ``p(doc_id, regime, n_tok)`` over a doc-id source relation."""
    return f"""
  p AS (
    SELECT doc_id,
           CASE WHEN doc_id % 131 = 13 THEN 8 ELSE doc_id % 8 END AS regime,
           CASE WHEN doc_id % 101 = 0 THEN 0
                WHEN doc_id % 103 = 7 THEN 1
                WHEN doc_id % 127 = 11 THEN 8192
                ELSE 1 + (doc_id * 7919) % 997 END AS n_tok
    FROM (SELECT doc_id FROM {doc_source})
  )"""


def tokens_cte_sql(
    prefix_len: int | None = None, suffix_len: int | None = None
) -> str:
    """CTE ``t(doc_id, regime, n_tok, j, tok)``; empty docs keep one row with
    ``tok NULL`` via LEFT JOIN LATERAL so they survive aggregation.

    ``prefix_len`` limits each doc to its first ``prefix_len`` tokens,
    ``suffix_len`` to its LAST ``suffix_len`` (mutually exclusive — the
    truncation-decode oracles); ``j`` is always the ORIGINAL position and
    ``n_tok`` the original length."""
    if prefix_len is not None and suffix_len is not None:
        raise ValueError("prefix_len and suffix_len are mutually exclusive")
    if suffix_len is not None:
        rng = f"range(GREATEST(p.n_tok - {int(suffix_len)}, 0), p.n_tok)"
    elif prefix_len is not None:
        rng = f"range(LEAST(p.n_tok, {int(prefix_len)}))"
    else:
        rng = "range(p.n_tok)"
    return f"""
  t AS (
    SELECT p.doc_id, p.regime, p.n_tok, u.j, {_TOKEN_CASE_SQL} AS tok
    FROM p LEFT JOIN LATERAL unnest({rng}) u(j) ON true
  )"""


def per_doc_checksum_sql(
    doc_source: str = "documents",
    string_doc_id: bool = False,
    prefix_len: int | None = None,
    suffix_len: int | None = None,
) -> str:
    """Full query: per-doc checksums straight from the generator formula.

    All numeric outputs cast to BIGINT (DuckDB SUM would return HUGEINT) so
    the value-hash compare against Spark ``long`` columns is exact. With
    ``string_doc_id`` the doc id is emitted in the engine's ``doc-%08d`` form.
    ``prefix_len`` (``suffix_len``) checksums only each doc's first (last)
    that-many tokens — the truncation-decode oracles; ``n_tok`` stays the
    original length and the weighted checksum uses positions within the
    TRUNCATED output array, matching what the engine hands downstream.
    """
    did = "printf('doc-%08d', doc_id)" if string_doc_id else "doc_id"
    if suffix_len is not None:
        # output position of original j is j - (n_tok - out_len)
        w = f"(j - GREATEST(n_tok - {int(suffix_len)}, 0) + 1)"
    else:
        w = "(j + 1)"
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql(prefix_len, suffix_len)}
SELECT {did} AS doc_id,
       CAST(regime AS BIGINT) AS regime,
       CAST(n_tok AS BIGINT) AS n_tok,
       CAST(((COALESCE(SUM(tok), 0) % {MOD}) + {MOD}) % {MOD} AS BIGINT) AS tok_cks,
       CAST(((COALESCE(SUM({w} * tok), 0) % {MOD}) + {MOD}) % {MOD} AS BIGINT) AS tok_wcks,
       CAST(MIN(tok) AS BIGINT) AS tok_min,
       CAST(MAX(tok) AS BIGINT) AS tok_max
FROM t
GROUP BY doc_id, regime, n_tok
ORDER BY doc_id
"""


def source_case_sql(col: str = "doc_id") -> str:
    """SQL mirror of :func:`source_of`."""
    cases = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(SOURCES[:-1])
    )
    return f"CASE ({col} * 131071) % {len(SOURCES)} {cases} ELSE '{SOURCES[-1]}' END"


def per_source_checksum_sql(doc_source: str = "documents") -> str:
    """Rollup keyed by the (decoded) ``source`` column — gates the string
    codec round trip alongside the token checksums."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  per_doc AS (
    SELECT doc_id, n_tok,
           ((COALESCE(SUM(tok), 0) % {MOD}) + {MOD}) % {MOD} AS cks
    FROM t GROUP BY doc_id, n_tok
  )
SELECT {source_case_sql('per_doc.doc_id')} AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok,
       CAST(SUM(cks) AS BIGINT) AS sum_tok_cks
FROM per_doc
GROUP BY 1
ORDER BY 1
"""


def token_search_sql(x: int, doc_source: str = "documents") -> str:
    """Docs containing token ``x`` + hit counts — oracle for the codec-aware
    search over encoded blocks (:mod:`.engine.search`)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()}
SELECT printf('doc-%08d', doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM t
WHERE tok = {x}
GROUP BY doc_id
ORDER BY doc_id
"""


def value_stats_sql(doc_source: str = "documents") -> str:
    """Whole-corpus token stats — oracle for the codec-aware aggregate
    pushdown (:mod:`.engine.stats`)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()}
SELECT CAST(COUNT(tok) AS BIGINT) AS n_values,
       CAST(SUM(tok) AS BIGINT) AS sum_tok,
       CAST(MIN(tok) AS BIGINT) AS tok_min,
       CAST(MAX(tok) AS BIGINT) AS tok_max
FROM t
"""


def distinct_count_sql(doc_source: str = "documents") -> str:
    """COUNT(DISTINCT token) — oracle for the distinct-count pushdown."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()}
SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct FROM t
"""


def token_histogram_sql(
    lo: int, hi: int, doc_source: str = "documents"
) -> str:
    """Exact per-value counts for tokens in ``[lo, hi]`` — oracle for the
    GROUP-BY-value pushdown (:func:`.engine.stats.token_histogram`)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()}
SELECT CAST(tok AS BIGINT) AS tok, CAST(COUNT(*) AS BIGINT) AS n
FROM t
WHERE tok BETWEEN {lo} AND {hi}
GROUP BY tok
ORDER BY tok
"""


def top_k_tokens_sql(k: int, doc_source: str = "documents") -> str:
    """Exact ``k`` most frequent tokens, ties broken by token id — oracle
    for the heavy-hitter audit (:func:`.engine.stats.top_k_tokens`)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()}
SELECT CAST(tok AS BIGINT) AS tok, CAST(COUNT(*) AS BIGINT) AS n
FROM t
WHERE tok IS NOT NULL
GROUP BY tok
ORDER BY n DESC, tok
LIMIT {int(k)}
"""


def unigram_commonness_sql(k: int, doc_source: str = "documents") -> str:
    """Per-doc coverage by the corpus's ``k`` most frequent tokens — oracle
    for the frequency quality screen
    (:func:`.engine.stats.unigram_commonness`). Top-k ties break on the
    token id exactly like the engine; all outputs are exact integers
    (``hot_permille`` is integer division, NULL for empty docs)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  hot AS (
    SELECT tok, COUNT(*) AS n
    FROM t WHERE tok IS NOT NULL
    GROUP BY tok ORDER BY n DESC, tok LIMIT {int(k)}
  )
SELECT printf('doc-%08d', t.doc_id) AS doc_id,
       CAST(t.regime AS BIGINT) AS regime,
       CAST(t.n_tok AS BIGINT) AS n_tok,
       CAST(COUNT(hot.tok) AS BIGINT) AS n_hot,
       CAST(COALESCE(SUM(hot.n), 0) AS BIGINT) AS hot_cnt_sum,
       CASE WHEN t.n_tok > 0
            THEN CAST((1000 * COUNT(hot.tok)) // t.n_tok AS BIGINT)
       END AS hot_permille
FROM t LEFT JOIN hot ON t.tok = hot.tok
GROUP BY t.doc_id, t.regime, t.n_tok
ORDER BY doc_id
"""


def padded_checksum_sql(
    k: int, pad_id: int, doc_source: str = "documents"
) -> str:
    """Per-doc checksums of the PADDED rectangle — oracle for
    :func:`.engine.decode.decode_padded_dataframe`. Real tokens contribute
    through the prefix-limited stream; the pad tail contributes in closed
    form (``pad_id`` times the count / the position-sum of padded slots),
    so the checksums gate the padding VALUES and POSITIONS, not just
    shape."""
    k, pad_id = int(k), int(pad_id)
    fill = f"LEAST(n_tok, {k})"
    # sum of output positions (1-based) occupied by padding:
    # k(k+1)/2 - fill(fill+1)/2
    pad_n = f"({k} - {fill})"
    pad_wsum = f"(({k} * {k + 1}) // 2 - ({fill} * ({fill} + 1)) // 2)"
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql(prefix_len=k)}
SELECT printf('doc-%08d', doc_id) AS doc_id,
       CAST(n_tok AS BIGINT) AS n_tok,
       CAST({fill} AS BIGINT) AS n_fill,
       CAST((((COALESCE(SUM(tok), 0) + {pad_id} * {pad_n}) % {MOD}) + {MOD})
            % {MOD} AS BIGINT) AS tok_cks,
       CAST((((COALESCE(SUM((j + 1) * tok), 0) + {pad_id} * {pad_wsum})
            % {MOD}) + {MOD}) % {MOD} AS BIGINT) AS tok_wcks
FROM t
GROUP BY doc_id, n_tok
ORDER BY doc_id
"""


def phrase_search_sql(x: int, y: int, doc_source: str = "documents") -> str:
    """Docs containing the adjacent token pair ``(x, y)`` + pair counts
    (overlapping occurrences count) — oracle for the phrase search over
    encoded blocks (:func:`.engine.search.search_phrase`)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  s AS (
    SELECT doc_id, tok,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY j) AS nxt
    FROM t WHERE tok IS NOT NULL
  )
SELECT printf('doc-%08d', doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM s
WHERE tok = {int(x)} AND nxt = {int(y)}
GROUP BY doc_id
ORDER BY doc_id
"""


def phrase_search_multi_sql(terms, doc_source: str = "documents") -> str:
    """Docs containing the exact n-term token sequence ``terms`` + match
    counts (overlapping occurrences count) — oracle for the positional-
    index n-gram phrase search
    (:func:`.engine.index.phrase_search_indexed_multi`)."""
    terms = [int(t) for t in terms]
    assert len(terms) >= 2
    leads = ",\n           ".join(
        f"LEAD(tok, {j}) OVER (PARTITION BY doc_id ORDER BY j) AS t{j}"
        for j in range(1, len(terms))
    )
    conds = " AND ".join(
        [f"tok = {terms[0]}"]
        + [f"t{j} = {t}" for j, t in enumerate(terms[1:], start=1)]
    )
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  s AS (
    SELECT doc_id, tok,
           {leads}
    FROM t WHERE tok IS NOT NULL
  )
SELECT printf('doc-%08d', doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches
FROM s
WHERE {conds}
GROUP BY doc_id
ORDER BY doc_id
"""


def bm25_search_sql(
    terms,
    k: int,
    k1: int = 1200,
    b: int = 750,
    doc_source: str = "documents",
) -> str:
    """Top-``k`` ranked retrieval — oracle for the integer-exact
    BM25-family scoring (:func:`.engine.index.bm25_search`). Every
    arithmetic step mirrors the engine exactly (integral ``//`` on
    non-negative operands == Spark ``DIV``); ties break on doc id."""
    terms = sorted({int(t) for t in terms})
    in_list = ", ".join(str(t) for t in terms)
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  const AS (
    SELECT COUNT(*) AS n, SUM(n_tok) AS total FROM p
  ),
  tf AS (
    SELECT doc_id, tok, COUNT(*) AS tf, MAX(n_tok) AS dl
    FROM t WHERE tok IN ({in_list})
    GROUP BY doc_id, tok
  ),
  df AS (
    SELECT tok, COUNT(DISTINCT doc_id) AS df
    FROM t WHERE tok IN ({in_list})
    GROUP BY tok
  ),
  scored AS (
    SELECT tf.doc_id,
           (((1000000 * (const.n - df.df) + 500000) // (df.df + 1))
            * ((tf.tf * {1000 + int(k1)} * 1000000)
               // (tf.tf * 1000 + ({int(k1)} * ({1000 - int(b)}
                   + ({int(b)} * tf.dl * const.n) // const.total)) // 1000)))
           // 1000000 AS ts
    FROM tf JOIN df USING (tok) CROSS JOIN const
  )
SELECT printf('doc-%08d', doc_id) AS doc_id,
       CAST(SUM(ts) AS BIGINT) AS score
FROM scored
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {int(k)}
"""


def top_k_ngrams_sql(n: int, k: int, doc_source: str = "documents") -> str:
    """``k`` most frequent token ``n``-grams (ties by gram) — oracle for
    the n-gram audit (:func:`.functions.ngrams.top_k_ngrams`)."""
    leads = ",\n           ".join(
        ["tok AS t0"]
        + [
            f"LEAD(tok, {d}) OVER (PARTITION BY doc_id ORDER BY j) AS t{d}"
            for d in range(1, n)
        ]
    )
    cols = ", ".join(f"t{d}" for d in range(n))
    casts = ", ".join(f"CAST(t{d} AS BIGINT) AS t{d}" for d in range(n))
    full = " AND ".join(f"t{d} IS NOT NULL" for d in range(n))
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  g AS (
    SELECT {leads}
    FROM t WHERE j IS NOT NULL
  )
SELECT {casts}, CAST(COUNT(*) AS BIGINT) AS n
FROM g
WHERE {full}
GROUP BY {cols}
ORDER BY n DESC, {cols}
LIMIT {int(k)}
"""


def index_token_stats_sql(
    lo: int, hi: int, doc_source: str = "documents"
) -> str:
    """Per-token doc/hit counts for the indexed range — oracle for the
    inverted-index manifest stats (:func:`.engine.index.index_token_stats`)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()}
SELECT CAST(tok AS BIGINT) AS tok,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM t
WHERE tok BETWEEN {lo} AND {hi}
GROUP BY tok
ORDER BY tok
"""


def and_search_sql(x: int, y: int, doc_source: str = "documents") -> str:
    """Docs containing BOTH ``x`` and ``y`` with per-term hit counts —
    oracle for the posting-list intersection
    (:func:`.engine.index.search_token_and`)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  a AS (SELECT doc_id, COUNT(*) AS n FROM t WHERE tok = {x} GROUP BY doc_id),
  b AS (SELECT doc_id, COUNT(*) AS n FROM t WHERE tok = {y} GROUP BY doc_id)
SELECT printf('doc-%08d', a.doc_id) AS doc_id,
       CAST(a.n AS BIGINT) AS x_hits,
       CAST(b.n AS BIGINT) AS y_hits
FROM a JOIN b ON a.doc_id = b.doc_id
ORDER BY doc_id
"""


def per_split_checksum_sql(
    split_case: str, doc_source: str = "documents"
) -> str:
    """Rollup keyed by a deterministic split assignment (``split_case`` is
    a SQL CASE over ``per_doc.doc_id``) — oracle for
    :mod:`.functions.split`."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  per_doc AS (
    SELECT doc_id, n_tok,
           ((COALESCE(SUM(tok), 0) % {MOD}) + {MOD}) % {MOD} AS cks
    FROM t GROUP BY doc_id, n_tok
  )
SELECT {split_case} AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok,
       CAST(SUM(cks) AS BIGINT) AS sum_tok_cks
FROM per_doc
GROUP BY 1
ORDER BY 1
"""


def ngram_contamination_sql(
    n: int, train_pred: str, eval_pred: str,
    doc_source: str = "documents",
) -> str:
    """Per-eval-doc count of distinct ``n``-grams shared with the train
    split — oracle for :func:`.functions.ngrams.ngram_contamination`.
    ``train_pred``/``eval_pred`` are predicates over the numeric
    ``doc_id``."""
    leads = ",\n           ".join(
        ["doc_id", "tok AS t0"]
        + [
            f"LEAD(tok, {d}) OVER (PARTITION BY doc_id ORDER BY j) AS t{d}"
            for d in range(1, n)
        ]
    )
    cols = ", ".join(f"t{d}" for d in range(n))
    full = " AND ".join(f"t{d} IS NOT NULL" for d in range(n))
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  g AS (
    SELECT {leads}
    FROM t WHERE j IS NOT NULL
  ),
  train AS (
    SELECT DISTINCT {cols} FROM g WHERE {full} AND ({train_pred})
  ),
  eval AS (
    SELECT DISTINCT doc_id, {cols} FROM g WHERE {full} AND ({eval_pred})
  )
SELECT printf('doc-%08d', eval.doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM eval JOIN train USING ({cols})
GROUP BY eval.doc_id
ORDER BY doc_id
"""


def doc_length_histogram_sql(doc_source: str = "documents") -> str:
    """Sequence-length distribution straight from the params CTE — oracle
    for :func:`.engine.stats.doc_length_histogram` (lengths-only scan)."""
    return f"""
WITH{params_cte_sql(doc_source)}
SELECT CAST(n_tok AS BIGINT) AS n_tok,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM p
GROUP BY n_tok
ORDER BY n_tok
"""


def snapshot_rollup_sql(snapshots: list[tuple[int, str]]) -> str:
    """UNION ALL of per-regime rollups, one per (snapshot_ord, doc-source
    relation) — oracle for time-travel reads (:mod:`.engine.snapshots`):
    each snapshot is just the rollup over the doc set live at that commit."""
    parts = [
        f"SELECT CAST({ordinal} AS BIGINT) AS snapshot_ord, * FROM ({per_regime_checksum_sql(rel)})"
        for ordinal, rel in snapshots
    ]
    return (
        "SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ") ORDER BY snapshot_ord, regime"
    )


def token_range_search_sql(
    lo: int, hi: int, doc_source: str = "documents"
) -> str:
    """Docs with any token in ``[lo, hi]`` + hit counts — oracle for the
    range-predicate pushdown (:func:`.engine.search.search_token_range`)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()}
SELECT printf('doc-%08d', doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM t
WHERE tok BETWEEN {lo} AND {hi}
GROUP BY doc_id
ORDER BY doc_id
"""


def affine_tok_sql(a: int, b: int, m: int, inner: str = "tok") -> str:
    """SQL for the affine remap ``t -> (a*t+b) mod m`` (pmod semantics)."""
    return f"((({inner})*{a}+{b}) % {m} + {m}) % {m}"


def inverse_affine_tok_sql(a: int, b: int, m: int, inner: str) -> str:
    """SQL for the inverse remap ``x -> a^-1 * (x - b) mod m``."""
    a_inv = pow(a, -1, m)
    return f"((({inner}) - {b}) * {a_inv} % {m} + {m}) % {m}"


def per_regime_checksum_mapped_sql(
    tok_expr: str, doc_source: str = "documents"
) -> str:
    """Per-regime rollup with every ``tok`` reference replaced by an
    arbitrary mapping expression (must contain ``tok``)."""
    base = per_regime_checksum_sql(doc_source)
    return base.replace(
        "SUM(tok)", f"SUM({tok_expr})"
    ).replace(
        "SUM((j + 1) * tok)", f"SUM((j + 1) * ({tok_expr}))"
    ).replace(
        "MIN(tok)", f"MIN({tok_expr})"
    ).replace(
        "MAX(tok)", f"MAX({tok_expr})"
    )


def per_regime_checksum_transformed_sql(
    a: int, b: int, m: int, doc_source: str = "documents"
) -> str:
    """Per-regime rollup after the affine token remap ``t -> (a*t+b) mod m``
    (oracle for the custom-transformer hook, encoder.py:186-189 analog)."""
    return per_regime_checksum_mapped_sql(
        f"({affine_tok_sql(a, b, m)})", doc_source
    )


def per_regime_checksum_roundtrip_transformed_sql(
    a: int, b: int, m: int, doc_source: str = "documents"
) -> str:
    """Oracle for the DECODE-side inverse transformer hook
    (decoder.py:146-149 analog): forward remap before encode, inverse remap
    after decode — the composition folds each token to ``t mod m``, which
    the SQL applies directly."""
    fwd = affine_tok_sql(a, b, m)
    return per_regime_checksum_mapped_sql(
        f"({inverse_affine_tok_sql(a, b, m, f'({fwd})')})", doc_source
    )


def per_regime_checksum_sql(doc_source: str = "documents") -> str:
    """Full query: per-regime rollup of the per-doc checksums (BIGINT casts
    as above)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  per_doc AS (
    SELECT doc_id, regime, n_tok,
           ((COALESCE(SUM(tok), 0) % {MOD}) + {MOD}) % {MOD} AS cks,
           ((COALESCE(SUM((j + 1) * tok), 0) % {MOD}) + {MOD}) % {MOD} AS wcks,
           MIN(tok) AS mn, MAX(tok) AS mx
    FROM t GROUP BY doc_id, regime, n_tok
  )
SELECT CAST(regime AS BIGINT) AS regime,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_n_tok,
       CAST(SUM(cks) AS BIGINT) AS sum_tok_cks,
       CAST(SUM(wcks) AS BIGINT) AS sum_tok_wcks,
       CAST(MIN(mn) AS BIGINT) AS tok_min,
       CAST(MAX(mx) AS BIGINT) AS tok_max
FROM per_doc
GROUP BY regime
ORDER BY regime
"""


def doc_length_quantiles_sql(
    pcts: tuple[int, ...] = (50, 90, 99), doc_source: str = "documents"
) -> str:
    """Exact discrete quantiles of the length distribution straight from the
    params CTE — oracle for :func:`.engine.stats.doc_length_quantiles`.
    Same integer compare (``100*cum >= total*pct``) as the engine."""
    values = ", ".join(f"({int(p)})" for p in pcts)
    return f"""
WITH{params_cte_sql(doc_source)},
  hist AS (SELECT n_tok, COUNT(*) AS c FROM p GROUP BY n_tok),
  cum AS (SELECT n_tok, SUM(c) OVER (ORDER BY n_tok) AS cum FROM hist),
  tot AS (SELECT SUM(c) AS total FROM hist),
  q(pct) AS (VALUES {values})
SELECT CAST(pct AS BIGINT) AS pct, CAST(MIN(n_tok) AS BIGINT) AS n_tok
FROM q, tot, cum
WHERE cum * 100 >= total * pct
GROUP BY pct
ORDER BY pct
"""


def ngram_repetition_sql(
    n: int, thresh_pct: int, doc_source: str = "documents"
) -> str:
    """Per-regime rollup of the intra-document repetition screen — oracle
    for :func:`.functions.ngrams.ngram_repetition` +
    :func:`.functions.ngrams.repetition_flag_expr`. A window position is
    "repeated" iff its gram occurs >1 time within the same doc, so the
    per-doc repeated count is ``SUM(c) FILTER (c > 1)`` over per-(doc,
    gram) counts; docs shorter than ``n`` report 0 windows and never
    flag. All outputs BIGINT, same integer threshold compare as the
    engine."""
    leads = ",\n           ".join(
        ["doc_id", "regime", "tok AS t0"]
        + [
            f"LEAD(tok, {d}) OVER (PARTITION BY doc_id ORDER BY j) AS t{d}"
            for d in range(1, n)
        ]
    )
    cols = ", ".join(f"t{d}" for d in range(n))
    full = " AND ".join(f"t{d} IS NOT NULL" for d in range(n))
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  g AS (
    SELECT {leads}
    FROM t WHERE j IS NOT NULL
  ),
  gc AS (
    SELECT doc_id, regime, COUNT(*) AS c
    FROM g WHERE {full}
    GROUP BY doc_id, regime, {cols}
  ),
  per_doc AS (
    SELECT doc_id, regime, SUM(c) AS n_w,
           COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS n_rep
    FROM gc GROUP BY doc_id, regime
  ),
  full_docs AS (
    SELECT p.regime, COALESCE(d.n_w, 0) AS n_w, COALESCE(d.n_rep, 0) AS n_rep
    FROM p LEFT JOIN per_doc d USING (doc_id)
  )
SELECT CAST(regime AS BIGINT) AS regime,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_w) AS BIGINT) AS sum_windows,
       CAST(SUM(n_rep) AS BIGINT) AS sum_rep_windows,
       CAST(COUNT(*) FILTER (
         WHERE n_w > 0 AND n_rep * 100 >= n_w * {int(thresh_pct)}
       ) AS BIGINT) AS n_flagged
FROM full_docs
GROUP BY regime
ORDER BY regime
"""


def duplicate_spans_sql(w: int, doc_source: str = "documents") -> str:
    """Per-regime rollup of the cross-document duplicate-span audit —
    oracle for :func:`.functions.dedup_spans.duplicate_spans`. A window
    position is "duplicated" iff its exact ``w``-token tuple occurs in
    >= 2 distinct documents; every position of such a tuple counts, in
    every document carrying it. Docs shorter than ``w`` contribute 0
    windows but still count in ``n_docs``."""
    leads = ",\n           ".join(
        ["doc_id", "regime", "tok AS t0"]
        + [
            f"LEAD(tok, {d}) OVER (PARTITION BY doc_id ORDER BY j) AS t{d}"
            for d in range(1, w)
        ]
    )
    cols = ", ".join(f"t{d}" for d in range(w))
    full = " AND ".join(f"t{d} IS NOT NULL" for d in range(w))
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  g AS (
    SELECT {leads}
    FROM t WHERE j IS NOT NULL
  ),
  gw AS (SELECT * FROM g WHERE {full}),
  dup AS (
    SELECT {cols} FROM gw GROUP BY {cols}
    HAVING COUNT(DISTINCT doc_id) >= 2
  ),
  per_doc_dup AS (
    SELECT gw.doc_id, COUNT(*) AS n_dup
    FROM gw JOIN dup USING ({cols})
    GROUP BY gw.doc_id
  ),
  full_docs AS (
    SELECT p.regime,
           CASE WHEN p.n_tok >= {w} THEN p.n_tok - {w} + 1 ELSE 0 END AS n_w,
           COALESCE(d.n_dup, 0) AS n_dup
    FROM p LEFT JOIN per_doc_dup d USING (doc_id)
  )
SELECT CAST(regime AS BIGINT) AS regime,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_w) AS BIGINT) AS sum_windows,
       CAST(SUM(n_dup) AS BIGINT) AS sum_dup_windows,
       CAST(COUNT(*) FILTER (WHERE n_dup > 0) AS BIGINT) AS n_docs_hit
FROM full_docs
GROUP BY regime
ORDER BY regime
"""


def global_dict_table_sql(limit: int, doc_source: str = "documents") -> str:
    """Frequency-ordered global dictionary prefix ``(code, tok, n)`` — the
    oracle for :func:`.engine.global_dict.build_global_dict` (ties break
    on token id, identical rank rule)."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  counts AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
  ranked AS (
    SELECT ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) - 1 AS code, tok, n
    FROM counts)
SELECT CAST(code AS BIGINT) AS code, CAST(tok AS BIGINT) AS tok,
       CAST(n AS BIGINT) AS n
FROM ranked WHERE code < {int(limit)} ORDER BY code
"""


def global_dict_code_counts_sql(hi: int, doc_source: str = "documents") -> str:
    """Counts BY GLOBAL CODE for codes ``[0, hi]`` — the cross-chunk
    code-space property: the histogram pushdown over globally re-encoded
    blocks must equal counts by frequency rank of the raw corpus."""
    return f"""
WITH{params_cte_sql(doc_source)},{tokens_cte_sql()},
  counts AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
  ranked AS (
    SELECT ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) - 1 AS code, n
    FROM counts)
SELECT CAST(code AS BIGINT) AS tok, CAST(n AS BIGINT) AS n
FROM ranked WHERE code BETWEEN 0 AND {int(hi)} ORDER BY tok
"""
