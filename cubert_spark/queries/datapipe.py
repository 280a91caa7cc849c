"""Training-data pipeline queries over documents/embeddings, each with
a DuckDB oracle that reproduces the engine's md5-based hashing
bit-for-bit (see datapipe.__init__ determinism doctrine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubert_spark.catalog import load_table
from cubert_spark.datapipe import (
    components,
    curation,
    dedup,
    sampling,
    similarity,
    textstats,
)
from cubert_spark.checkpoints import eager_checkpoint, lazy_checkpoint

_EMB_DIM = 64  # testdata embeddings dimension (TESTDATA.md)

# Shared SQL fragment: the shingle inverted index (mirrors
# datapipe.textstats.shingles with k=3: distinct word 3-grams).
_SH_CTE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(words, i, i+2), ' ') AS shingle
  FROM w, LATERAL UNNEST(range(1, len(words) - 1)) AS t(i)
  WHERE len(words) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return dedup.exact_dedup(d)


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS rep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(d, threshold=0.2)


SQL_NGRAM_JACCARD = _SH_CTE + """
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jac
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.2
"""


def q_ngram_jaccard_cut(spark: SparkSession, sf: str) -> DataFrame:
    """The scale-safe ngram_jaccard spelling (r10 VERDICT task 5):
    corpus-relative stopword-shingle cut (df <= 4% of the shingled
    corpus) before the inverted-index self-join. The uncut spelling's
    candidate growth is measured super-linear under a bounded
    vocabulary (exp 1.27, SCALE.md r10); the relative cut keeps
    removing the same high-df TAIL at every scale, and since r13 the
    absolute budget (2000) rides along because the frac rule alone
    lets surviving postings grow with the corpus — quadratic pair
    expansion, measured as disk exhaustion at gen10 (SCALE.md r13).
    The dual cut is what you ship at 100 TB when exact Jaccard (not
    minhash) is required. Jaccard is computed over the post-cut
    shingle space (sizes count surviving shingles) — semantics
    self-consistent, oracle-exact."""
    d = load_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(
        d, threshold=0.2, max_doc_freq_frac=0.04, max_doc_freq=2000
    )


#: CTE chain of the CUT shingle space (df <= min(4% of the shingled
#: corpus, 2000 — the r13 absolute pair-expansion budget: the frac
#: rule alone lets postings grow with the corpus and pair generation
#: is quadratic in posting size, measured as disk exhaustion at
#: gen10, SCALE.md r13): w -> sh -> nd/kept -> shc, with sizes/inter
#: computed over the surviving shingles. Shared by ngram_jaccard_cut
#: and every composite consumer of its pair graph (dedup_clusters,
#: neardup_dedup, triangle_count) so the Spark calls and oracles
#: cannot drift apart.
_SH_CUT_CTE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(words, i, i+2), ' ') AS shingle
  FROM w, LATERAL UNNEST(range(1, len(words) - 1)) AS t(i)
  WHERE len(words) >= 3
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM sh),
kept AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING COUNT(*) <= (SELECT LEAST(n_docs * 0.04, 2000) FROM nd)
),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

SQL_NGRAM_JACCARD_CUT = _SH_CUT_CTE + """
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jac
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.2
"""


def q_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric near-dup detection (dedup.containment_pairs):
    shingle-set containment in either direction >= 0.9 — catches
    short-doc-quoted-in-long-doc cases Jaccard misses."""
    d = load_table(spark, sf, "documents")
    return dedup.containment_pairs(d, threshold=0.9)


def q_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-label embedding centroids (similarity.label_centroids)
    — DECIMAL-exact per-position sums, one sum/count divide per
    position. The API returns (label, n_vecs, centroid array<double>);
    the query surface posexplodes to (label, n_vecs, pos, centroid_val)
    rows because the driver's pandas canonicalizer cannot sort
    list-typed cells (the r1 collect_bag lesson)."""
    e = load_table(spark, sf, "embeddings")
    c = similarity.label_centroids(e)
    ex = c.select(
        "label",
        "n_vecs",
        F.posexplode("centroid").alias("pos", "__cv"),
    )
    # ROUND(x, 9) on both engines: the raw mean differs by 1-3 ulp
    # cross-engine (decimal(38,18)->double conversion is single-rounded
    # in Spark, double-rounded in DuckDB for >2^53-scaled sums); both
    # engines correctly round the same 9-decimal value, so the rounded
    # mean replays bit-for-bit
    return ex.select(
        "label", "n_vecs", "pos", F.round("__cv", 9).alias("centroid_val")
    )


SQL_LABEL_CENTROIDS = f"""
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
per_pos AS (
  SELECT label, i AS pos,
         SUM(CAST(v[i] AS DECIMAL(38,18))) AS s,
         COUNT(*) AS n
  FROM e, LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY 1, 2
)
SELECT label, CAST(n AS BIGINT) AS n_vecs, CAST(pos - 1 AS INT) AS pos,
       ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE), 9) AS centroid_val
FROM per_pos
"""


def q_kmeans_lloyd(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Lloyd k-means (similarity.kmeans_lloyd): 3
    iterations, k=8, Forgy init on the 8 smallest vec_ids — computed
    entirely in floor-quantized bigint space, so assignments,
    tie-breaks, and the floor-division centroid update replay
    bit-identically in the unrolled-SQL DuckDB oracle. The one
    genuinely ITERATIVE operator in the inventory with a full-strength
    value-hash oracle (not a rows-only check)."""
    e = load_table(spark, sf, "embeddings")
    return similarity.kmeans_lloyd(e, k=8, iters=3)


def _kmeans_oracle(
    k: int = 8, iters: int = 3, scale: int = 1_000_000, assign: bool = False
) -> str:
    """Unroll `iters` Lloyd iterations as chained CTEs. Matches
    kmeans_lloyd exactly: same quantization, same argmin tie-break
    (ORDER BY dist, cl == Spark's struct array_min), same floor
    division (pmod spelling — DuckDB % keeps the dividend sign like
    Python's int arithmetic floors), same empty-cluster carry."""
    parts = [
        f"""WITH q AS (
  SELECT vec_id, i - 1 AS pos,
         CAST(FLOOR(CAST(v[i] AS DOUBLE) * {scale}.0) AS BIGINT) AS qv
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
       LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
), seed AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
  FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL
        ORDER BY vec_id LIMIT {k})
), c0 AS (
  SELECT cl, pos, qv AS c, CAST(0 AS BIGINT) AS n
  FROM q JOIN seed USING (vec_id)
)"""
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(
            f""", a{t} AS (
  SELECT vec_id, cl FROM (
    SELECT q.vec_id, p.cl,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY SUM((q.qv - p.c) * (q.qv - p.c)), p.cl
           ) AS rn
    FROM q JOIN {prev} p ON q.pos = p.pos
    GROUP BY q.vec_id, p.cl
  ) WHERE rn = 1
), s{t} AS (
  SELECT cl, pos, SUM(qv) AS s, COUNT(*) AS n
  FROM q JOIN a{t} USING (vec_id)
  GROUP BY cl, pos
), c{t} AS (
  SELECT p.cl, p.pos,
         CASE WHEN s.n IS NULL THEN p.c
              ELSE (s.s - (((s.s % s.n) + s.n) % s.n)) // s.n END AS c,
         COALESCE(s.n, 0) AS n
  FROM {prev} p LEFT JOIN s{t} s ON p.cl = s.cl AND p.pos = s.pos
)"""
        )
        prev = f"c{t}"
    if assign:
        # one more argmin pass under the FINAL centroids — the
        # per-vector labeling kmeans_assign exposes
        parts.append(
            f"""
SELECT vec_id, CAST(cl AS INT) AS cluster_id, CAST(d AS BIGINT) AS dist
FROM (
  SELECT q.vec_id, p.cl, SUM((q.qv - p.c) * (q.qv - p.c)) AS d,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY SUM((q.qv - p.c) * (q.qv - p.c)), p.cl
         ) AS rn
  FROM q JOIN {prev} p ON q.pos = p.pos
  GROUP BY q.vec_id, p.cl
) WHERE rn = 1"""
        )
    else:
        parts.append(
            f"""
SELECT CAST(cl AS INT) AS cluster_id, CAST(n AS BIGINT) AS n_vecs,
       CAST(pos AS INT) AS pos, CAST(c AS BIGINT) AS centroid_q
FROM {prev}"""
        )
    return "".join(parts)


SQL_KMEANS_LLOYD = _kmeans_oracle()
SQL_KMEANS_ASSIGN = _kmeans_oracle(assign=True)


def q_kmeans_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector cluster labels + exact squared distances under the
    final kmeans_lloyd centroids (similarity.kmeans_assign) — the
    consumable clustering surface; the labeling pass itself is one
    zero-shuffle corpus scan against broadcast centroid literals."""
    e = load_table(spark, sf, "embeddings")
    return similarity.kmeans_assign(e, k=8, iters=3)


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (textstats.pii_redact): email/phone/IPv4
    lookalikes masked with typed placeholders, count on the original
    text — one codegen scan, zero shuffle."""
    d = load_table(spark, sf, "documents")
    return textstats.pii_redact(d)


def _pii_redact_oracle() -> str:
    from cubert_spark.datapipe.textstats import PII_PATTERNS, PII_REDACTIONS

    red = "text"
    for key, token in PII_REDACTIONS:
        pat = PII_PATTERNS[key].replace("'", "''")
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    counts = " + ".join(
        f"len(regexp_extract_all(text, '{PII_PATTERNS[k].replace(chr(39), chr(39) * 2)}'))"
        for k, _ in PII_REDACTIONS
    )
    return f"""
SELECT doc_id, {red} AS redacted, CAST({counts} AS BIGINT) AS n_redacted
FROM documents
"""


SQL_PII_REDACT = _pii_redact_oracle()


def q_phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-word phrase search over a positional inverted index
    (textstats.phrase_search): per-word posting lists equi-joined on
    (doc, start offset) — position-aware retrieval BM25 cannot do."""
    d = load_table(spark, sf, "documents")
    return textstats.phrase_search(d, "slow hash batch")


SQL_PHRASE_SEARCH = """
WITH pos AS (
  SELECT doc_id, ws[i] AS w, CAST(i - 1 AS BIGINT) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       LATERAL UNNEST(range(1, len(ws) + 1)) AS t(i)
)
SELECT p0.doc_id, COUNT(*) AS n_matches
FROM (SELECT doc_id, pos AS start FROM pos WHERE w = 'slow') p0
JOIN (SELECT doc_id, pos - 1 AS start FROM pos WHERE w = 'hash') p1
  USING (doc_id, start)
JOIN (SELECT doc_id, pos - 2 AS start FROM pos WHERE w = 'batch') p2
  USING (doc_id, start)
GROUP BY 1
"""


def q_pmi_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 collocations by PMI lift (textstats.pmi_pairs) —
    log-free: ranked by the exact-DECIMAL lift n_xy*N/(n_x*n_y),
    which orders identically to PMI."""
    d = load_table(spark, sf, "documents")
    return textstats.pmi_pairs(d, min_count=5, top_k=20)


SQL_PMI_PAIRS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
uni AS (
  SELECT t.w, COUNT(*) AS n
  FROM w, LATERAL UNNEST(ws) AS t(w)
  GROUP BY 1
),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS N FROM uni),
big AS (
  SELECT ws[i] AS x, ws[i + 1] AS y, COUNT(*) AS n_xy
  FROM w, LATERAL UNNEST(range(1, len(ws))) AS t(i)
  WHERE len(ws) >= 2
  GROUP BY 1, 2
  HAVING COUNT(*) >= 5
),
scored AS (
  SELECT big.x, big.y, big.n_xy, nx.n AS n_x, ny.n AS n_y,
         CAST(CAST(big.n_xy AS BIGINT) * total.N AS DOUBLE)
           / CAST(CAST(nx.n AS BIGINT) * CAST(ny.n AS BIGINT) AS DOUBLE)
           AS lift
  FROM big
  JOIN uni nx ON nx.w = big.x
  JOIN uni ny ON ny.w = big.y
  CROSS JOIN total
)
SELECT x, y, n_xy, n_x, n_y, lift, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, x, y) AS rnk FROM scored
) WHERE rnk <= 20
"""


def q_compression_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """zlib compressibility per document (textstats.compression_ratio)
    — redundancy/quality signal. No SQL engine has zlib, so the
    driver-checkable contract is: exact raw UTF-8 byte length (DuckDB
    ``strlen`` replays it) plus a ``comp_ok`` boolean asserting the
    zlib output obeys its published invariants — non-empty stream,
    within compressBound(n) = n + (n>>12) + (n>>14) + (n>>25) + 13,
    and ratio consistent with comp_len/raw_len. The oracle derives the
    same columns from exact math (TRUE literal). Bit-exact zlib values
    stay pinned by the pytest model-check against Python zlib."""
    d = load_table(spark, sf, "documents")
    cr = textstats.compression_ratio(d)
    bound = (
        F.col("raw_len")
        + F.shiftright("raw_len", 12)
        + F.shiftright("raw_len", 14)
        + F.shiftright("raw_len", 25)
        + F.lit(13)
    )
    ratio_ok = F.when(
        F.col("raw_len") > 0,
        F.col("ratio")
        == F.col("comp_len").cast("double") / F.col("raw_len").cast("double"),
    ).otherwise(F.col("ratio").isNull())
    comp_ok = (
        (F.col("comp_len") > 0) & (F.col("comp_len") <= bound) & ratio_ok
    ).alias("comp_ok")
    return cr.select("doc_id", "raw_len", comp_ok)


SQL_COMPRESSION_RATIO = """
SELECT doc_id, CAST(COALESCE(strlen(text), 0) AS INT) AS raw_len, TRUE AS comp_ok
FROM documents
"""


SQL_CONTAINMENT_PAIRS = _SH_CTE + """
SELECT id_a, id_b, sa.sz AS sz_a, sb.sz AS sz_b, inter,
       CAST(inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS cont_ab,
       CAST(inter AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS cont_ba
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.9
   OR CAST(inter AS DOUBLE) / CAST(sb.sz AS DOUBLE) >= 0.9
"""


def q_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT word-set Jaccard pairs via PPJoin prefix filtering
    (dedup.jaccard_prefix_pairs): only each doc's rarest
    (|s|-ceil(t|s|)+1) words are indexed, so the candidate join
    shuffles a fraction of the postings the full inverted index
    (ngram_jaccard) does, with an identical exact result."""
    d = load_table(spark, sf, "documents")
    return dedup.jaccard_prefix_pairs(d, threshold=0.9)


SQL_JACCARD_PREFIX = """
WITH tok AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, UNNEST(string_split_regex(text, '\\s+')) AS w FROM documents
  ) WHERE w <> ''
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1),
wfreq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY 1),
ranked AS (
  SELECT t.doc_id, t.w, s.sz,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.w) AS pos
  FROM tok t JOIN wfreq f USING (w) JOIN sizes s USING (doc_id)
),
prefix AS (
  SELECT doc_id, w, sz FROM ranked WHERE pos <= sz - CEIL(0.9 * sz) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sz AS sz_a, b.sz AS sz_b
  FROM prefix a JOIN prefix b USING (w)
  WHERE a.doc_id < b.doc_id AND a.sz >= CEIL(0.9 * b.sz)
    AND b.sz >= CEIL(0.9 * a.sz)
),
inter AS (
  SELECT c.id_a, c.id_b, c.sz_a, c.sz_b, COUNT(*) AS inter
  FROM cand c
  JOIN tok ta ON ta.doc_id = c.id_a
  JOIN tok tb ON tb.doc_id = c.id_b AND tb.w = ta.w
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE) AS jac
FROM inter
WHERE CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE) >= 0.9
"""


def q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(d, threshold=0.2, num_hashes=8, band_size=2)


# lane i = 8-hex chunk i%4 of digest i//4 (see dedup.minhash_signature)
_SIG_COLS = ",\n       ".join(
    f"MIN(substr(md5('{i // 4}|' || shingle), {1 + 8 * (i % 4)}, 8)) AS h{i}"
    for i in range(8)
)
_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_idx, md5(h{2*b} || h{2*b+1}) AS band_key FROM sig"
    for b in range(4)
)

SQL_MINHASH_LSH = _SH_CTE + f""",
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT i.id_a, i.id_b,
       CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jac
FROM inter i
JOIN cand USING (id_a, id_b)
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.2
"""


def q_minhash_lsh_fast(spark: SparkSession, sf: str) -> DataFrame:
    """Production-hash (xxhash64) MinHash-LSH — rows-only check (band
    keys are JVM-specific; the md5 variant above is the oracle path).
    Final pairs are still exact-Jaccard verified, so output differs
    from minhash_lsh only where band collisions differ."""
    d = load_table(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(
        d, threshold=0.2, num_hashes=8, band_size=2, hash_fn="xxhash64"
    )


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc 32-bit SimHash fingerprint (stronger than a
    cluster-count check: every fingerprint compared)."""
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", dedup.simhash32(F.col("text")).alias("simhash"))


def _simhash_sql() -> str:
    bit_sums = []
    for j in range(32):
        nib, bit = divmod(j, 4)
        val = f"((strpos('0123456789abcdef', substr(h, {nib + 1}, 1)) - 1) >> {bit}) & 1"
        bit_sums.append(
            f"CASE WHEN SUM(CASE WHEN ({val}) = 1 THEN 1 ELSE -1 END) > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        )
    total = " + ".join(bit_sums)
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents)
),
h AS (SELECT doc_id, md5(t) AS h FROM tok)
SELECT doc_id, {total} AS simhash
FROM h GROUP BY doc_id
"""


SQL_SIMHASH = _simhash_sql()


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return textstats.quality_features(d).select(
        "doc_id", "n_chars_calc", "n_tokens", "n_punct", "punct_ratio",
        "stopword_ratio", "mean_token_len",
    )


SQL_TEXT_QUALITY = """
SELECT doc_id,
       CAST(LENGTH(text) AS INT) AS n_chars_calc,
       CAST(LEN(string_split_regex(text, '\\s+')) AS INT) AS n_tokens,
       CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS INT) AS n_punct,
       CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / LENGTH(text) AS punct_ratio,
       CAST(LEN(list_filter(string_split_regex(text, '\\s+'),
            w -> lower(w) IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
         / LEN(string_split_regex(text, '\\s+')) AS stopword_ratio,
       CAST(LENGTH(text) - LEN(string_split_regex(text, '\\s+')) + 1 AS DOUBLE)
         / LEN(string_split_regex(text, '\\s+')) AS mean_token_len
FROM documents
"""


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return textstats.language_id(d).select("doc_id", "lang_pred")


_HIT = {
    lang: f"LEN(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ({', '.join(repr(w) for w in ws)})))"
    for lang, ws in textstats.STOPWORDS.items()
}

SQL_LANG_ID = f"""
SELECT doc_id,
       CASE WHEN {_HIT['en']} >= {_HIT['es']} AND {_HIT['en']} >= {_HIT['fr']} AND {_HIT['en']} > 0 THEN 'en'
            WHEN {_HIT['es']} >= {_HIT['fr']} AND {_HIT['es']} > 0 THEN 'es'
            WHEN {_HIT['fr']} > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM documents
"""


def q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        textstats.token_count(t).alias("ws_tokens"),
        textstats.bpe_ish_token_count(t).alias("bpe_tokens"),
    )


SQL_TOKEN_COUNTS = """
SELECT doc_id,
       CAST(LEN(string_split_regex(text, '\\s+')) AS INT) AS ws_tokens,
       CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS bpe_tokens
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return textstats.fingerprint(d).select("doc_id", "fp")


SQL_FINGERPRINT = """
WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT doc_id, ANY_VALUE(text) AS text,
         MIN(md5(array_to_string(list_slice(words, i, i+3), ' '))) AS min_h
  FROM w, LATERAL UNNEST(range(1, len(words) - 2)) AS t(i)
  WHERE len(words) >= 4
  GROUP BY doc_id
)
SELECT w.doc_id,
       COALESCE(sh.min_h, 'empty') || '-' ||
         CAST(LEN(string_split_regex(w.text, '\\s+')) AS VARCHAR) AS fp
FROM w LEFT JOIN sh ON w.doc_id = sh.doc_id
"""


def q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return textstats.repetition_stats(d).select(
        "doc_id", "dup_line_frac", "top_bigram_frac"
    )


SQL_REPETITION_STATS = """
WITH t AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         string_split_regex(text, '\\s+') AS w
  FROM documents
),
bg AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM t, LATERAL UNNEST(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2
),
cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
mx AS (SELECT doc_id, MAX(c) AS mc, SUM(c) AS tot FROM cnt GROUP BY 1)
SELECT t.doc_id,
       CASE WHEN len(t.lines) > 0
            THEN CAST(len(t.lines) - len(list_distinct(t.lines)) AS DOUBLE) / len(t.lines)
            ELSE 0.0 END AS dup_line_frac,
       COALESCE(CAST(mx.mc AS DOUBLE) / mx.tot, 0.0) AS top_bigram_frac
FROM t LEFT JOIN mx ON t.doc_id = mx.doc_id
"""


def q_pii_counts(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    return textstats.pii_counts(d).select("doc_id", "n_emails", "n_phones", "n_ipv4")


SQL_PII_COUNTS = f"""
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text, '{textstats.PII_PATTERNS["n_emails"]}')) AS INT) AS n_emails,
       CAST(LEN(regexp_extract_all(text, '{textstats.PII_PATTERNS["n_phones"]}')) AS INT) AS n_phones,
       CAST(LEN(regexp_extract_all(text, '{textstats.PII_PATTERNS["n_ipv4"]}')) AS INT) AS n_ipv4
FROM documents
"""


def _round9(df: DataFrame, *cols: str) -> DataFrame:
    """ROUND(x, 9) the named float columns: the raw decimal->double
    conversion drifts 1-3 ulp cross-engine on >2^53-scaled DECIMAL
    sums (Spark single-rounds via BigDecimal.doubleValue, DuckDB
    double-rounds via int128->double / 10^scale), and both engines
    correctly round the shared 9-decimal value — the same discipline
    as the oracles' ROUND(..., 9)."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(c, 9))
    return out


def q_embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-5 for query vectors vec_id < 5 (decimal-exact
    dot products; see datapipe.similarity)."""
    e = load_table(spark, sf, "embeddings")
    return _round9(
        # known_count=5: vec_id is unique, so the filter bounds |Q| by
        # construction — skips the guard probe job (r10 VERDICT task 4)
        similarity.cosine_topk(
            e, e.filter(F.col("vec_id") < 5), k=5, known_count=5
        ), "cos"
    )


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         SUM(CAST(qv[i] * cv[i] AS DECIMAL(38,18))) AS dot,
         SUM(CAST(qv[i] * qv[i] AS DECIMAL(38,18))) AS qq,
         SUM(CAST(cv[i] * cv[i] AS DECIMAL(38,18))) AS cc
  FROM q, c, LATERAL UNNEST(range(1, len(qv) + 1)) AS t(i)
  WHERE query_id <> neighbor_id
  GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) DESC,
                    neighbor_id
         ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos, 9) AS cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 5
"""


def q_corpus_report(spark: SparkSession, sf: str) -> DataFrame:
    """One-call dataset datasheet (curation.corpus_report): size,
    exact-dup, language and token-percentile rows in long format —
    three keyed aggregates + a tiny union, nothing quadratic."""
    from cubert_spark.datapipe import curation

    d = load_table(spark, sf, "documents")
    return curation.corpus_report(d)


SQL_CORPUS_REPORT = """
WITH tc AS (
  SELECT doc_id, lang, text,
         len(string_split_regex(text, '\\s+')) AS n_tok,
         length(text) AS n_chars
  FROM documents
)
SELECT 'size' AS metric, 'docs' AS key, CAST(COUNT(*) AS DOUBLE) AS value FROM tc
UNION ALL
SELECT 'size', 'tokens', CAST(SUM(n_tok) AS DOUBLE) FROM tc
UNION ALL
SELECT 'size', 'chars', CAST(SUM(n_chars) AS DOUBLE) FROM tc
UNION ALL
SELECT 'dedup', 'distinct_contents', CAST(COUNT(*) AS DOUBLE)
FROM (SELECT md5(text) FROM tc GROUP BY 1)
UNION ALL
SELECT 'dedup', 'exact_dup_docs', CAST(SUM(n - 1) AS DOUBLE)
FROM (SELECT COUNT(*) AS n FROM tc GROUP BY md5(text))
UNION ALL
SELECT 'quality', 'tokens_p10', CAST(quantile_disc(n_tok, 0.1) AS DOUBLE) FROM tc
UNION ALL
SELECT 'quality', 'tokens_p50', CAST(quantile_disc(n_tok, 0.5) AS DOUBLE) FROM tc
UNION ALL
SELECT 'quality', 'tokens_p90', CAST(quantile_disc(n_tok, 0.9) AS DOUBLE) FROM tc
UNION ALL
SELECT 'languages', CAST(lang AS VARCHAR), CAST(COUNT(*) AS DOUBLE)
FROM tc GROUP BY lang
"""


def q_filtered_ann(spark: SparkSession, sf: str) -> DataFrame:
    """FILTERED vector search (the vector-DB pre-filter pattern,
    public: probe only corpus vectors whose metadata matches a
    predicate): exact cosine top-5 among label=2 vectors only. The
    filter applies BEFORE scoring, so at scale it pushes into the
    corpus scan/partition layout (PushedFilters on a label-partitioned
    index; cf. streaming.ingest_embeddings' layout) — never
    score-then-filter, which starves k when the predicate is
    selective."""
    e = load_table(spark, sf, "embeddings")
    return _round9(
        similarity.cosine_topk(
            e.filter(F.col("label") == 2),
            e.filter(F.col("vec_id") < 5),
            k=5,
            known_count=5,
        ),
        "cos",
    )


SQL_FILTERED_ANN = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE label = 2),
scored AS (
  SELECT query_id, neighbor_id,
         SUM(CAST(qv[i] * cv[i] AS DECIMAL(38,18))) AS dot,
         SUM(CAST(qv[i] * qv[i] AS DECIMAL(38,18))) AS qq,
         SUM(CAST(cv[i] * cv[i] AS DECIMAL(38,18))) AS cc
  FROM q, c, LATERAL UNNEST(range(1, len(qv) + 1)) AS t(i)
  WHERE query_id <> neighbor_id
  GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) DESC,
                    neighbor_id
         ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos, 9) AS cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 5
"""


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs (n-gram Jaccard >= 0.2, corpus-relative
    stopword cut — the scale-safe pair source since r11) → duplicate
    clusters via distributed connected components (min-label
    propagation). The pair graph is a parameter of the CC machinery;
    at 100 TB feed it minhash_lsh or ngram_jaccard_cut pairs."""
    d = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, threshold=0.2, max_doc_freq_frac=0.04, max_doc_freq=2000
    ).select("id_a", "id_b")
    return components.dedup_clusters(pairs)


# Oracle: transitive closure by recursive label propagation — every
# vertex collects all reachable labels; MIN = the component representative.
SQL_DEDUP_CLUSTERS = _SH_CUT_CTE.replace("WITH w", "WITH RECURSIVE w", 1) + """,
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.2
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT DISTINCT u AS id, u AS lbl FROM edges
  UNION
  SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id
)
SELECT id AS doc_id, MIN(lbl) AS rep_id FROM reach GROUP BY id
"""


def _hash16_sql(key_expr: str, salt: str) -> str:
    """DuckDB mirror of datapipe.sampling.hash16 (first 16 bits of
    md5(salt || value))."""
    h = f"md5('{salt}' || COALESCE(CAST({key_expr} AS VARCHAR), '__null__'))"

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"

    return f"({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"


def q_det_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 25% sample of documents keyed on doc_id — the
    reproducible, partition-independent alternative to df.sample()."""
    d = load_table(spark, sf, "documents")
    out = sampling.deterministic_sample(d, "doc_id", 0.25, salt="bench")
    return out.select(
        "doc_id", sampling.hash16(F.col("doc_id"), "bench").alias("h16")
    )


SQL_DET_SAMPLE = f"""
SELECT doc_id, CAST({_hash16_sql('doc_id', 'bench')} AS INT) AS h16
FROM documents
WHERE {_hash16_sql('doc_id', 'bench')} < {int(0.25 * 65536)}
"""


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted deterministic downsample: keep each document
    with probability proportional to a quality proxy (byte length,
    capped at 1) — reproducible across engines/runs, no shuffle.
    octet_length (bytes) keeps the weight bit-identical in DuckDB."""
    d = load_table(spark, sf, "documents")
    w = F.octet_length("text") / F.lit(2000.0)
    out = sampling.weighted_deterministic_sample(
        d, "doc_id", w, scale=1.0, salt="wbench"
    )
    return out.select("doc_id")


SQL_WEIGHTED_SAMPLE = f"""
SELECT doc_id
FROM documents
WHERE CAST({_hash16_sql('doc_id', 'wbench')} AS DOUBLE)
      < LEAST(1.0, strlen(text) / 2000.0) * 65536
"""


def q_per_group_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Uniform per-language budget: at most 40 documents per lang,
    picked by content-hash order (reproducible balancing; plans as
    WindowGroupLimit — running top-n per partition, never whole
    groups)."""
    d = load_table(spark, sf, "documents")
    return sampling.per_group_deterministic_sample(
        d.select("doc_id", "lang"), "doc_id", "lang", 40, salt="pgs"
    )


SQL_PER_GROUP_SAMPLE = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {_hash16_sql('doc_id', 'pgs')}, CAST(doc_id AS VARCHAR)
         ) AS rn
  FROM documents
) WHERE rn <= 40
"""


def q_train_test_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leak-proof content-keyed holdout split (same doc always lands on
    the same side across dataset versions)."""
    d = load_table(spark, sf, "documents")
    train, test = sampling.train_test_split(d, "doc_id", test_fraction=0.1)
    return train.select("doc_id", F.lit("train").alias("side")).unionByName(
        test.select("doc_id", F.lit("test").alias("side"))
    )


SQL_TRAIN_TEST_SPLIT = f"""
SELECT doc_id,
       CASE WHEN {_hash16_sql('doc_id', 'split')} < {int(0.1 * 65536)}
            THEN 'test' ELSE 'train' END AS side
FROM documents
"""


def _ann_recall_contract(
    q_df: DataFrame, ann: DataFrame, exact: DataFrame, k: int,
    min_total_hits: int, id_col: str = "vec_id",
) -> DataFrame:
    """Driver-checkable contract for an approximate index: per query,
    emit ``full_k`` (the index returned all k neighbors) and
    ``recall_ok`` (the query SET found >= min_total_hits members of
    the EXACT top-k sets, computed in the same query as ground
    truth). Both are deterministic for a seeded index on fixed data;
    the oracle asserts them from exact math (TRUE literals). A recall
    regression — worse hashing, broken probe order, a quantizer bug —
    flips the hash red instead of hiding behind a rows-only check.
    The floor is corpus-level because the synthetic embeddings are
    unstructured noise (max pairwise cos ~0.5): per-query recall on
    data with no true near neighbors is exactly what ANN is allowed
    to trade away, while a broken index drops to ~zero hits."""
    # localCheckpoint (lazy, r16): the ANN neighbor list feeds both the
    # hit intersection and the per-query count — without it the whole
    # index pipeline (quantizer + probe + rescore) runs once per
    # consumer (guide §2.4). |q| * k rows; recomputed per invocation.
    annp = ann.select("query_id", "neighbor_id").transform(lazy_checkpoint)
    hits = annp.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    )
    total = F.broadcast(hits.agg(F.count(F.lit(1)).alias("__total_hits")))
    # anchor the output on the QUERY SET, not the ANN result: a query
    # whose probe returns zero candidates must surface as
    # full_k = false, not vanish into an opaque row-count mismatch
    per_q = (
        q_df.select(F.col(id_col).alias("query_id"))
        .join(
            annp.groupBy("query_id").agg(F.count(F.lit(1)).alias("__n_ann")),
            "query_id",
            "left",
        )
        .crossJoin(total)
    )
    return per_q.select(
        "query_id",
        (F.coalesce("__n_ann", F.lit(0)) == k).alias("full_k"),
        (F.col("__total_hits") >= min_total_hits).alias("recall_ok"),
    )


def q_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN (approximate, KMeans quantizer). The neighbor list is
    engine-specific, so the attested contract is recall against the
    in-query exact brute-force top-k (see _ann_recall_contract;
    measured 15/25 hits at sf0.001, 12/25 at sf0.01 with nprobe=3 of
    8 lists — floor 6 holds 2x); the raw neighbor surface stays
    available as similarity.ivf_topk and the deterministic twin
    ivf_topk_exact."""
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    ann = similarity.ivf_topk(e, q, k=5, n_lists=8, nprobe=3, max_iter=4)
    exact = similarity.cosine_topk(e, q, k=5, known_count=5)
    return _ann_recall_contract(q, ann, exact, k=5, min_total_hits=6)


def q_lsh_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe LSH ANN. Same recall contract as q_ivf_topk
    (measured 3/25 hits at both test SFs — a 3-of-64-buckets probe
    over noise embeddings keeps what it's allowed to keep; floor 1
    distinguishes a working index from a broken one). Raw surface:
    similarity.lsh_bucketed_topk + the deterministic twin
    lsh_ann_exact; recall floor on clustered data asserted in
    tests/test_datapipe.py::test_lsh_bucketed_recall."""
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    ann = similarity.lsh_bucketed_topk(e, q, k=5, num_planes=6, multi_probe=2)
    exact = similarity.cosine_topk(e, q, k=5, known_count=5)
    return _ann_recall_contract(q, ann, exact, k=5, min_total_hits=1)


SQL_ANN_RECALL = """
SELECT vec_id AS query_id, TRUE AS full_k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
"""


def attach_blob_metadata(df: DataFrame, blob_col: str, id_col: str) -> DataFrame:
    """Typed metadata for an opaque binary column — JVM-side only
    (length, content hash); the cheap pass that runs before any
    Python decode at scale."""
    b = F.col(blob_col)
    return df.select(
        F.col(id_col),
        F.length(b).cast("int").alias("byte_len"),
        F.sha2(b, 256).alias("sha256"),
    )


def text_as_blob(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Test adapter: UTF-8 encode a text column into a binary column so
    the multimodal plumbing is exercisable on the documents table."""
    return df.select(
        F.col(id_col).alias("id"), F.encode(F.col(text_col), "UTF-8").alias("blob")
    )


def q_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-column plumbing: blob byte length + content hash, the
    JVM-side metadata pass over documents encoded as blobs. Media
    decode itself is out of scope; it belongs in a codec library."""
    d = load_table(spark, sf, "documents")
    return attach_blob_metadata(text_as_blob(d), "blob", "id")


SQL_MULTIMODAL_META = """
SELECT doc_id AS id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       sha256(text) AS sha256
FROM documents
"""


# --- ANN oracle surrogates --------------------------------------------------
# The production ANN paths (lsh_ann multi-probe, ivf_topk trained
# quantizer) are approximate-by-design and stay rows-only + recall-
# tested. These two surrogates make the same index MECHANISMS
# deterministic: the seeded hyperplane/centroid literals are replayed
# in DuckDB and every sign/argmax/score runs through order-independent
# DECIMAL accumulation, so buckets, candidates, and cosines diff
# bit-for-bit cross-engine.

_LSH_EXACT_PLANES = similarity.hyperplane_planes(_EMB_DIM, 6, seed=42)
_IVF_EXACT_CENTROIDS = similarity.hyperplane_planes(_EMB_DIM, 8, seed=7)


def q_lsh_ann_exact(spark: SparkSession, sf: str) -> DataFrame:
    """LSH ANN with decimal-exact sign + rescoring (single-probe):
    the oracle-checkable twin of lsh_ann."""
    e = load_table(spark, sf, "embeddings")
    return _round9(
        similarity.lsh_exact_topk(
            e, e.filter(F.col("vec_id") < 5), k=5, num_planes=6, seed=42,
            dim=_EMB_DIM,
        ),
        "cos",
    )


def _vals(rows: list[list[float]]) -> str:
    return ",\n    ".join(
        f"({j}, CAST([{', '.join(str(x) for x in row)}] AS DOUBLE[]))"
        for j, row in enumerate(rows)
    )


SQL_LSH_ANN_EXACT = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes(j, p) AS (
  VALUES {_vals(_LSH_EXACT_PLANES)}
),
dots AS (
  SELECT e.vec_id, pl.j,
         SUM(CAST(e.v[i] * pl.p[i] AS DECIMAL(38,18))) AS dot
  FROM e, planes pl, LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY e.vec_id, pl.j
),
b AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot >= 0 THEN (1 << j) ELSE 0 END) AS INT) AS bucket
  FROM dots GROUP BY vec_id
),
cand AS (
  SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM b qb JOIN b cb USING (bucket)
  WHERE qb.vec_id < 5 AND qb.vec_id <> cb.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         SUM(CAST(q.v[i] * c.v[i] AS DECIMAL(38,18))) AS dot,
         SUM(CAST(q.v[i] * q.v[i] AS DECIMAL(38,18))) AS qq,
         SUM(CAST(c.v[i] * c.v[i] AS DECIMAL(38,18))) AS cc
  FROM cand
  JOIN e q ON q.vec_id = cand.query_id
  JOIN e c ON c.vec_id = cand.neighbor_id,
  LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY cand.query_id, cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) DESC,
                    neighbor_id
         ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos, 9) AS cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 5
"""


def q_ivf_assign_exact(spark: SparkSession, sf: str) -> DataFrame:
    """IVF list assignment with fixed seeded +-1 centroid literals,
    decimal-exact argmax — the oracle-checkable twin of ivf_topk's
    assignment stage."""
    e = load_table(spark, sf, "embeddings")
    return _round9(similarity.ivf_assign_exact(e, _IVF_EXACT_CENTROIDS), "dot")


def q_ivf_topk_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Full IVF path (assign -> probe -> rescore) with fixed seeded
    centroid literals, every stage DECIMAL-exact — the oracle-checkable
    twin of ivf_topk end-to-end (ivf_assign_exact covers only the
    assignment stage)."""
    e = load_table(spark, sf, "embeddings")
    return _round9(
        similarity.ivf_exact_topk(
            e, e.filter(F.col("vec_id") < 5), _IVF_EXACT_CENTROIDS, k=5,
            nprobe=3,
        ),
        "cos",
    )


SQL_IVF_TOPK_EXACT = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents(j, c) AS (
  VALUES {{vals}}
),
dots AS (
  SELECT e.vec_id, ct.j,
         SUM(CAST(e.v[i] * ct.c[i] AS DECIMAL(38,18))) AS dot
  FROM e, cents ct, LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY e.vec_id, ct.j
),
ranked_dots AS (
  SELECT vec_id, j,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, j ASC) AS rn
  FROM dots
),
assign AS (
  SELECT vec_id AS neighbor_id, j AS list_id FROM ranked_dots WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, j AS list_id
  FROM ranked_dots WHERE vec_id < 5 AND rn <= 3
),
cand AS (
  SELECT q.query_id, a.neighbor_id
  FROM qprobe q JOIN assign a USING (list_id)
  WHERE q.query_id <> a.neighbor_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         SUM(CAST(q.v[i] * c.v[i] AS DECIMAL(38,18))) AS dot,
         SUM(CAST(q.v[i] * q.v[i] AS DECIMAL(38,18))) AS qq,
         SUM(CAST(c.v[i] * c.v[i] AS DECIMAL(38,18))) AS cc
  FROM cand
  JOIN e q ON q.vec_id = cand.query_id
  JOIN e c ON c.vec_id = cand.neighbor_id,
  LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY cand.query_id, cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) DESC,
                    neighbor_id
         ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos, 9) AS cos, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 5
""".replace("{vals}", _vals(_IVF_EXACT_CENTROIDS))


SQL_IVF_ASSIGN_EXACT = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents(j, c) AS (
  VALUES {_vals(_IVF_EXACT_CENTROIDS)}
),
dots AS (
  SELECT e.vec_id, ct.j,
         SUM(CAST(e.v[i] * ct.c[i] AS DECIMAL(38,18))) AS dot
  FROM e, cents ct, LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY e.vec_id, ct.j
),
ranked AS (
  SELECT vec_id, j, dot,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, j ASC) AS rn
  FROM dots
)
SELECT vec_id, CAST(j AS INT) AS list_id, ROUND(CAST(CAST(dot AS VARCHAR) AS DOUBLE), 9) AS dot
FROM ranked WHERE rn = 1
"""


#: PQ: 4 subspaces x 16 dims, 8 seeded +-1 codewords each
_PQ_CODEBOOKS = [
    similarity.hyperplane_planes(16, 8, seed=100 + m) for m in range(4)
]


def q_pq_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization codes (similarity.pq_encode): 64-dim
    embeddings -> 4 codes from fixed seeded codebooks, DECIMAL-exact
    per-subspace argmax — the memory-compression side of PQ-ANN,
    oracle-replayed codeword-for-codeword. The API returns codes as
    array<int>; the query surface posexplodes to (vec_id, pos, code,
    dot0) rows for the driver's canonicalizer."""
    e = load_table(spark, sf, "embeddings")
    enc = similarity.pq_encode(e, _PQ_CODEBOOKS)
    # posexplode_outer: see q_hashed_embedding (always 4 codes)
    return enc.select(
        "vec_id",
        F.round("dot0", 9).alias("dot0"),
        F.posexplode_outer("codes").alias("pos", "code"),
    )


def _pq_sub_sql(m: int) -> str:
    """Best (code, dot) for subspace m as a correlated CTE chain."""
    return f"""
dots{m} AS (
  SELECT e.vec_id, cb.j,
         SUM(CAST(e.v[{m * 16} + i] * cb.c[i] AS DECIMAL(38,18))) AS dot
  FROM e, cb{m} cb, LATERAL UNNEST(range(1, 17)) AS t(i)
  GROUP BY e.vec_id, cb.j
),
best{m} AS (
  SELECT vec_id, j, dot FROM (
    SELECT vec_id, j, dot,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, j ASC) AS rn
    FROM dots{m}
  ) WHERE rn = 1
)"""


SQL_PQ_ENCODE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{",".join(f'''
cb{m}(j, c) AS (
  VALUES {_vals(_PQ_CODEBOOKS[m])}
)''' for m in range(4))},
{",".join(_pq_sub_sql(m) for m in range(4))}
SELECT e.vec_id,
       ROUND(CAST(CAST(best0.dot AS VARCHAR) AS DOUBLE), 9) AS dot0,
       CAST(p AS INT) AS pos,
       CAST(CASE p WHEN 0 THEN best0.j WHEN 1 THEN best1.j
                   WHEN 2 THEN best2.j ELSE best3.j END AS INT) AS code
FROM e
JOIN best0 USING (vec_id) JOIN best1 USING (vec_id)
JOIN best2 USING (vec_id) JOIN best3 USING (vec_id),
LATERAL UNNEST(range(0, 4)) AS t(p)
"""


def q_pq_adc_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ asymmetric-distance search (similarity.pq_adc_topk): queries
    score the compressed code table through a broadcast DECIMAL
    lookup — the search half of PQ-ANN, bit-replayed in the oracle
    (codes + LUT + DECIMAL sum, all exact)."""
    e = load_table(spark, sf, "embeddings")
    return _round9(
        similarity.pq_adc_topk(
            e, e.filter(F.col("vec_id") < 5), _PQ_CODEBOOKS, k=5
        ),
        "est",
    )


def _pq_lut_sql(m: int) -> str:
    return f"""
lut{m} AS (
  SELECT q.q_id, cb.j,
         SUM(CAST(q.v[{m * 16} + i] * cb.c[i] AS DECIMAL(38,18))) AS ld
  FROM q, cb{m} cb, LATERAL UNNEST(range(1, 17)) AS t(i)
  GROUP BY q.q_id, cb.j
)"""


SQL_PQ_ADC_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v FROM e WHERE vec_id < 5),
{",".join(f'''
cb{m}(j, c) AS (
  VALUES {_vals(_PQ_CODEBOOKS[m])}
)''' for m in range(4))},
{",".join(_pq_sub_sql(m) for m in range(4))},
{",".join(_pq_lut_sql(m) for m in range(4))},
est AS (
  SELECT qq.q_id, b0.vec_id,
         l0.ld + l1.ld + l2.ld + l3.ld AS est
  FROM best0 b0
  JOIN best1 b1 USING (vec_id) JOIN best2 b2 USING (vec_id)
  JOIN best3 b3 USING (vec_id)
  CROSS JOIN (SELECT DISTINCT q_id FROM q) qq
  JOIN lut0 l0 ON l0.q_id = qq.q_id AND l0.j = b0.j
  JOIN lut1 l1 ON l1.q_id = qq.q_id AND l1.j = b1.j
  JOIN lut2 l2 ON l2.q_id = qq.q_id AND l2.j = b2.j
  JOIN lut3 l3 ON l3.q_id = qq.q_id AND l3.j = b3.j
)
SELECT q_id, vec_id, ROUND(CAST(CAST(est AS VARCHAR) AS DOUBLE), 9) AS est, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY est DESC, vec_id) AS rnk
  FROM est
) WHERE rnk <= 5
"""


# --- curation: contamination / boilerplate / packing ------------------------

def q_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Train/test contamination screen: test-split docs sharing >= 3
    word 3-gram shingles with a train-split doc (split = the same
    content-keyed hash cut as train_test_split)."""
    d = load_table(spark, sf, "documents")
    train, test = sampling.train_test_split(d, "doc_id", test_fraction=0.1)
    return curation.contamination(train, test, min_shared=3)


SQL_CONTAMINATION = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         {_hash16_sql('doc_id', 'split')} AS h16
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, h16,
         array_to_string(list_slice(words, i, i+2), ' ') AS shingle
  FROM w, LATERAL UNNEST(range(1, len(words) - 1)) AS t(i)
  WHERE len(words) >= 3
),
tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE h16 >= {int(0.1 * 65536)}),
te AS (SELECT doc_id AS test_id, shingle FROM sh WHERE h16 < {int(0.1 * 65536)}),
pair AS (
  SELECT test_id, train_id, COUNT(*) AS shared
  FROM te JOIN tr USING (shingle)
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT test_id, COUNT(*) AS n_train_docs, MAX(shared) AS max_shared
FROM pair GROUP BY test_id
"""


def q_boilerplate_removal(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style boilerplate removal: drop lines appearing in >= 3
    distinct documents, reassemble docs in original line order."""
    d = load_table(spark, sf, "documents")
    return curation.remove_boilerplate(d, min_doc_freq=3)


SQL_BOILERPLATE_REMOVAL = """
WITH lines AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
),
pos AS (
  SELECT doc_id, CAST(i AS INT) - 1 AS pos, ls[i] AS line
  FROM lines, LATERAL UNNEST(range(1, len(ls) + 1)) AS t(i)
),
bp AS (
  SELECT line FROM (SELECT DISTINCT doc_id, line FROM pos)
  GROUP BY line HAVING COUNT(*) >= 3
),
kept AS (SELECT * FROM pos WHERE line NOT IN (SELECT line FROM bp)),
total AS (SELECT doc_id, COUNT(*) AS n_lines FROM pos GROUP BY doc_id),
re AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(re.clean_text, '') AS clean_text,
       CAST(t.n_lines - COALESCE(re.n_kept, 0) AS INT) AS n_removed
FROM total t LEFT JOIN re ON re.doc_id = t.doc_id
"""


def q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide paragraph dedup: every distinct non-blank paragraph
    survives once, at its first (doc_id, pos) occurrence."""
    d = load_table(spark, sf, "documents")
    return curation.paragraph_dedup(d)


SQL_PARAGRAPH_DEDUP = """
WITH lines AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
),
pos AS (
  SELECT doc_id, CAST(i AS INT) - 1 AS pos, ls[i] AS para
  FROM lines, LATERAL UNNEST(range(1, len(ls) + 1)) AS t(i)
),
winners AS (
  SELECT para, doc_id AS wid, pos AS wpos FROM (
    SELECT para, doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
    FROM pos WHERE TRIM(para) <> ''
  ) WHERE rn = 1
),
kept AS (
  SELECT p.doc_id, p.pos, p.para
  FROM pos p LEFT JOIN winners w ON w.para = p.para
  WHERE TRIM(p.para) = '' OR (p.doc_id = w.wid AND p.pos = w.wpos)
),
total AS (SELECT doc_id, COUNT(*) AS n_lines FROM pos GROUP BY doc_id),
re AS (
  SELECT doc_id,
         string_agg(para, chr(10) ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(re.clean_text, '') AS clean_text,
       CAST(t.n_lines - COALESCE(re.n_kept, 0) AS INT) AS n_removed
FROM total t LEFT JOIN re ON re.doc_id = t.doc_id
"""


def q_sequence_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 512-token context
    windows (distributed two-level prefix sum on the Spark side; the
    oracle's single global window is the semantic spec)."""
    d = load_table(spark, sf, "documents")
    return curation.sequence_pack(d, capacity=512, shard_size=1024)


SQL_SEQUENCE_PACK = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       CAST(floor(start_offset / 512.0) AS BIGINT) AS start_bin,
       CAST(floor((start_offset + greatest(n_tokens, 1) - 1) / 512.0) AS BIGINT) AS end_bin
FROM c
"""


def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 characteristic terms per document by (rational-idf)
    tf-idf; scores bit-replayable cross-engine."""
    d = load_table(spark, sf, "documents")
    return textstats.tfidf_top_terms(d, k=3)


SQL_TFIDF_TOP_TERMS = """
WITH t AS (
  SELECT doc_id, u.term
  FROM documents,
       LATERAL UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE) * (CAST(nd.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS score
  FROM tf JOIN dfreq USING (term), nd
)
SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-support novelty scoring (integer-exact perplexity-filter
    cousin): per doc, total distinct bigrams, bigrams unique to the
    doc across the corpus, and their ratio."""
    d = load_table(spark, sf, "documents")
    return textstats.ngram_novelty(d)


SQL_NGRAM_NOVELTY = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
bg AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(words, i, i+1), ' ') AS bigram
  FROM w, LATERAL UNNEST(range(1, len(words))) AS t(i)
  WHERE len(words) >= 2
),
freq AS (SELECT bigram, COUNT(*) AS df FROM bg GROUP BY bigram),
per AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique_here
  FROM bg JOIN freq USING (bigram) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_bigrams, 0) AS n_bigrams,
       CAST(COALESCE(per.n_unique_here, 0) AS BIGINT) AS n_unique_here,
       COALESCE(CAST(per.n_unique_here AS DOUBLE) / CAST(per.n_bigrams AS DOUBLE), 0.0) AS novelty
FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
"""


def q_bpe_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Learned-BPE tokenization: bounded deterministic train (500
    merges cap at 2k sample docs) + distributed apply. Rows-only by
    necessity: iterative merge application is not SQL-expressible
    (same no-oracle class as the streaming rows); exactness against a
    pure-Python reference is asserted in
    tests/test_datapipe.py::test_bpe_tokenize_matches_reference."""
    from cubert_spark.datapipe import bpe

    d = load_table(spark, sf, "documents")
    merges = bpe.bpe_train(d, num_merges=100, sample_max_docs=2000)
    return bpe.bpe_tokenize(d, merges).select("doc_id", "n_tokens")


def q_normalize_text(spark: SparkSession, sf: str) -> DataFrame:
    """Codegen regex normalization chain (control strip, CRLF fold,
    whitespace collapse, line trim, blank-run squeeze)."""
    d = load_table(spark, sf, "documents")
    return curation.normalize_text(d)


def _normalize_sql_expr() -> str:
    expr = "text"
    for pat, rep in curation.NORMALIZE_STEPS:
        # identical pattern strings (DuckDB single-quote literals keep
        # backslashes raw, so no re-escaping); the 'g' flag matches
        # Spark's replace-all semantics
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{rep}', 'g')"
    return f"trim({expr})"


SQL_NORMALIZE_TEXT = f"""
SELECT doc_id,
       {_normalize_sql_expr()} AS clean_text,
       CAST(length(text) AS INT) AS n_chars_before,
       CAST(length({_normalize_sql_expr()}) AS INT) AS n_chars_after
FROM documents
"""


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q_profile_table(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass data-quality profile of orders (bigint/varchar columns
    — the string casts of min/max are engine-identical for these
    types; double/timestamp formatting is engine-specific, so the
    oracle row sticks to portable types; the operator itself profiles
    any column)."""
    o = load_table(spark, sf, "orders")
    return curation.profile_table(o, _PROFILE_COLS)


SQL_PROFILE_TABLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_val,
       CAST(MAX({c}) AS VARCHAR) AS max_val
FROM orders"""
    for c in _PROFILE_COLS
)


_BLOCKLIST = ["slow scan", "big table", "dup"]


def q_blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Banned-phrase screen: one alternation regex, one scan."""
    d = load_table(spark, sf, "documents")
    return curation.blocklist_filter(d, _BLOCKLIST)


def _blocklist_pat() -> str:
    import re as _re

    return "(?i)" + "|".join(_re.escape(p) for p in _BLOCKLIST)


SQL_BLOCKLIST_FILTER = f"""
SELECT doc_id,
       regexp_extract(text, '{_blocklist_pat()}', 0) <> '' AS blocked,
       CASE WHEN regexp_extract(text, '{_blocklist_pat()}', 0) <> ''
            THEN regexp_extract(text, '{_blocklist_pat()}', 0) END AS first_match
FROM documents
"""


def q_neardup_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup end-cap: near-dup pairs (n-gram Jaccard >= 0.2) →
    connected-component clusters → keep ONE representative (min id)
    per cluster → emit the deduped corpus (doc_id, lang). Untouched
    docs survive implicitly (anti-join only removes non-representative
    cluster members — a broadcast-able small side by construction:
    |near-dup victims| << |corpus|)."""
    d = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, threshold=0.2, max_doc_freq_frac=0.04, max_doc_freq=2000
    ).select("id_a", "id_b")
    clusters = components.dedup_clusters(pairs)
    victims = clusters.filter(F.col("doc_id") != F.col("rep_id")).select("doc_id")
    return d.join(victims, "doc_id", "left_anti").select("doc_id", "lang")


# splice the anti-join on top of the cluster CTE chain: the final
# SELECT of SQL_DEDUP_CLUSTERS becomes one more CTE
SQL_NEARDUP_DEDUP = SQL_DEDUP_CLUSTERS.replace(
    "SELECT id AS doc_id, MIN(lbl) AS rep_id FROM reach GROUP BY id",
    """,
clusters AS (SELECT id AS doc_id, MIN(lbl) AS rep_id FROM reach GROUP BY id)
SELECT d.doc_id, d.lang
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> rep_id)""",
).replace(")\n,\nclusters AS", "),\nclusters AS")


# Fixed tokenizer model for the BPE oracle twin: trained at import
# time from an embedded corpus by the same pure-Python fit the
# production path uses (bpe.bpe_train_texts — deterministic: ties
# break lexicographically). Same technique as the fixed-centroid /
# fixed-hyperplane ANN twins: freeze the learned artifact, then the
# whole APPLY path becomes deterministic and cross-engine checkable.
_BPE_FIXED_CORPUS = [
    "the query scans the table and sorts the sorted rows",
    "hash join and merge join group the grouped values",
    "fast scan slow scan big batch small batch stream order",
    "filter the column filter the row filter the key value",
    "spark sorts data windows stream windowed aggregates agg",
    "a query part a data part the customer line order",
]
from cubert_spark.datapipe import bpe as _bpe

_BPE_FIXED_MERGES = _bpe.bpe_train_texts(_BPE_FIXED_CORPUS, num_merges=30)

_BPE_SEP = "chr(31)"
_BPE_PAIRS_SQL = ", ".join(
    f"concat('{l}', {_BPE_SEP}, '{r}')" for l, r in _BPE_FIXED_MERGES
)

# the per-state best merge: lowest (rank, position) among adjacent
# symbol pairs present in the rank list — one merge per step, exactly
# bpe_encode_word's greedy order
_BPE_BEST = f"""
    SELECT u.i FROM UNNEST(range(1, len(syms))) AS u(i)
    WHERE NULLIF(list_position([{_BPE_PAIRS_SQL}], syms[u.i] || {_BPE_SEP} || syms[u.i + 1]), 0) IS NOT NULL
    ORDER BY list_position([{_BPE_PAIRS_SQL}], syms[u.i] || {_BPE_SEP} || syms[u.i + 1]), u.i
    LIMIT 1
"""


def q_bpe_apply_exact(spark: SparkSession, sf: str) -> DataFrame:
    """BPE apply with a FIXED merge list (the deterministic oracle
    twin of bpe_tokenize — the trained path stays rows-only): the
    distributed Arrow kernel's greedy lowest-rank-first merge loop is
    replayed in SQL as a recursive CTE over the distinct-word states.
    Output: (doc_id, n_tokens) under the frozen tokenizer model."""
    d = load_table(spark, sf, "documents")
    return _bpe.bpe_tokenize(d, _BPE_FIXED_MERGES).select("doc_id", "n_tokens")


SQL_BPE_APPLY_EXACT = f"""
WITH RECURSIVE
words AS (
  SELECT doc_id, u.w AS word, COUNT(*) AS mult
  FROM documents, LATERAL UNNEST(string_split_regex(text, '\\s+')) AS u(w)
  WHERE u.w <> '' GROUP BY 1, 2
),
dw AS (SELECT DISTINCT word FROM words),
init AS (
  SELECT word,
         list_append(list_transform(range(1, length(word) + 1), i -> word[i]), '</w>') AS syms
  FROM dw
),
steps AS (
  SELECT word, syms FROM init
  UNION ALL
  SELECT word,
         syms[1:bi - 1] || [syms[bi] || syms[bi + 1]] || syms[bi + 2:len(syms)] AS syms
  FROM (SELECT word, syms, ({_BPE_BEST}) AS bi FROM steps)
  WHERE bi IS NOT NULL
),
fin AS (
  SELECT word, len(syms) AS n_syms
  FROM (SELECT word, syms, ({_BPE_BEST}) AS bi FROM steps)
  WHERE bi IS NULL
)
SELECT d.doc_id,
       CAST(COALESCE(SUM(w.mult * f.n_syms), 0) AS INT) AS n_tokens
FROM documents d
LEFT JOIN words w ON w.doc_id = d.doc_id
LEFT JOIN fin f ON f.word = w.word
GROUP BY d.doc_id
"""


def q_corpus_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-corpus construction: exact-dedup to one
    representative per distinct text -> English only -> minimum token
    count -> deterministic train/test split. Every stage is one of the
    engine's datapipe operators composed in one Catalyst plan: two
    documents scans (dedup branch + main branch), the dedup groupBy's
    shuffle, and a semi-join against the representative set (AQE picks
    broadcast at test scale, shuffle semi-join at corpus scale) —
    lang/token/split are pure expressions on the main scan."""
    d = load_table(spark, sf, "documents")
    reps = dedup.exact_dedup(d).select(F.col("rep_id").alias("doc_id"))
    kept = (
        textstats.language_id(d)
        .join(reps, "doc_id", "left_semi")
        .filter(F.col("lang_pred") == "en")
        .withColumn("n_tok", textstats.token_count(F.col("text")))
        .filter(F.col("n_tok") >= 5)
    )
    h = sampling.hash16(F.col("doc_id"), "split")
    return kept.select(
        "doc_id",
        "n_tok",
        F.when(h < int(0.1 * 65536), F.lit("test")).otherwise(F.lit("train")).alias("side"),
    )


SQL_CORPUS_PIPELINE = f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
lang AS ({SQL_LANG_ID})
SELECT d.doc_id,
       CAST(LEN(string_split_regex(d.text, '\\s+')) AS INT) AS n_tok,
       CASE WHEN {_hash16_sql('d.doc_id', 'split')} < {int(0.1 * 65536)}
            THEN 'test' ELSE 'train' END AS side
FROM documents d
JOIN reps USING (doc_id)
JOIN lang ON lang.doc_id = d.doc_id
WHERE lang.lang_pred = 'en'
  AND LEN(string_split_regex(d.text, '\\s+')) >= 5
"""


def q_hashed_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-hashing document embedder (dim 32): bucket counts
    L2-normalized — exact bigint norms, IEEE divides. The API returns
    (doc_id, vec array<double>, n_terms); the query surface
    posexplodes to (doc_id, n_terms, pos, val) rows for the driver's
    canonicalizer."""
    d = load_table(spark, sf, "documents")
    h = textstats.hashed_bow_embedding(d, dim=32)
    # posexplode_OUTER, deliberately: inner posexplode makes
    # InferFiltersFromGenerate push a size(vec)>0 filter below the
    # projection, inlining the md5-heavy vec expression once per
    # position (measured 252 s vs 8 s at sf0.1). vec always has
    # exactly 32 elements, so outer semantics are identical.
    return h.select(
        "doc_id", "n_terms", F.posexplode_outer("vec").alias("pos", "val")
    )


SQL_HASHED_EMBEDDING = f"""
WITH t AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(lower(text), '[a-z0-9]+'),
           s -> ({_hash16_sql('s', 'hbe')}) % 32
         ) AS b,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_terms
  FROM documents
),
c AS (
  SELECT doc_id, n_terms,
         list_transform(range(0, 32),
                        j -> CAST(len(list_filter(b, x -> x = j)) AS BIGINT)) AS counts
  FROM t
),
s AS (
  SELECT doc_id, n_terms, counts,
         CAST(list_sum(list_transform(counts, c -> c * c)) AS BIGINT) AS ss
  FROM c
)
SELECT doc_id, n_terms, CAST(j AS INT) AS pos,
       CASE WHEN ss > 0
            THEN CAST(counts[j + 1] AS DOUBLE) / sqrt(CAST(ss AS DOUBLE))
            ELSE 0.0 END AS val
FROM s, LATERAL UNNEST(range(0, 32)) AS t2(j)
"""


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping 64-token chunks (16-token overlap) — the embedding
    prep stage; boundaries are pure arithmetic, replayed in SQL."""
    d = load_table(spark, sf, "documents")
    return curation.chunk_documents(d, chunk_tokens=64, overlap=16)


SQL_CHUNK_DOCUMENTS = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) > 0
              THEN range(1, greatest(len(toks) - 64 + 1, 1) + 1, 48)
              ELSE [] END AS starts0
  FROM t
),
s2 AS (
  SELECT doc_id, toks,
         CASE WHEN n > 0 AND starts0[-1] + 63 < n
              THEN list_append(starts0, starts0[-1] + 48)
              ELSE starts0 END AS starts
  FROM s
)
SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
       array_to_string(list_slice(toks, starts[i], starts[i] + 63), ' ') AS chunk_text,
       CAST(len(list_slice(toks, starts[i], starts[i] + 63)) AS INT) AS n_tokens
FROM s2, LATERAL UNNEST(range(1, len(starts) + 1)) AS u(i)
"""


def q_fuzzy_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution on customer names: all pairs within edit
    distance 1 via SymSpell deletion-neighborhood blocking (the oracle
    brute-forces levenshtein over all pairs — the Spark side must find
    exactly the same set without ever forming the product)."""
    c = load_table(spark, sf, "customer")
    return dedup.fuzzy_pairs(c.select("c_custkey", "c_name"))


SQL_FUZZY_PAIRS = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def q_fuzzy_pairs2(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution at edit distance <= 2: SymSpell depth-2
    deletion neighborhoods (~len^2/2 variants per string) — the
    recall-vs-explode knob one notch up from fuzzy_pairs; same
    inverted-index plan, never a product. Oracle brute-forces the
    quadratic levenshtein."""
    c = load_table(spark, sf, "customer")
    return dedup.fuzzy_pairs(c.select("c_custkey", "c_name"), max_dist=2)


SQL_FUZZY_PAIRS2 = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


def q_fuzzy_pairs_blocked(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution at edit distance <= 2 WITH a blocking key
    (c_nationkey): the documented 100 TB mitigation for the pair
    explosion — cross-block candidates never form because the block
    column is folded into the variant join key, so posting-list
    volume (and output) divides by the block fan-out. This is the
    variant whose gen0.1->gen1 scaling exponent SCALE.md records next
    to the unblocked fuzzy_pairs2 row."""
    c = load_table(spark, sf, "customer")
    return dedup.fuzzy_pairs(
        c.select("c_custkey", "c_name", "c_nationkey"),
        max_dist=2,
        block_cols=["c_nationkey"],
    )


SQL_FUZZY_PAIRS_BLOCKED = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey AND a.c_nationkey = b.c_nationkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language deterministic downsample (stratified rebalancing —
    e.g. cap the dominant language of a crawl): en keeps 25%, zh 50%,
    other strata keep everything. Content-keyed md5 gate, so the kept
    set is stable across dataset versions; pure column expressions —
    the filter rides the parquet scan, no shuffle at any scale."""
    d = load_table(spark, sf, "documents")
    return sampling.stratified_deterministic_sample(
        d.select("doc_id", "lang"), "doc_id", "lang",
        {"en": 0.25, "zh": 0.5}, salt="strat",
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE NOT (
  (lang = 'en' AND {_hash16_sql('doc_id', 'strat')} >= {int(0.25 * 65536)})
  OR (lang = 'zh' AND {_hash16_sql('doc_id', 'strat')} >= {int(0.5 * 65536)})
)
"""


_HLS_WEIGHTS = textstats.hashed_weights(128, seed=13)


def q_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Hashed linear classifier inference (quantized weights, exact
    bigint margin) — one zero-shuffle codegen projection."""
    d = load_table(spark, sf, "documents")
    return textstats.hashed_linear_score(d, _HLS_WEIGHTS)


SQL_QUALITY_CLASSIFIER = f"""
WITH w(ws) AS (VALUES (CAST([{', '.join(str(x) for x in _HLS_WEIGHTS)}] AS BIGINT[]))),
t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS terms
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(terms) AS INT) AS n_terms,
         CAST(COALESCE(list_sum(list_transform(
           terms, s -> ws[1 + ({_hash16_sql('s', 'hls')}) % 128]
         )), 0) AS BIGINT) AS margin
  FROM t, w
)
SELECT doc_id, n_terms, margin,
       CASE WHEN n_terms > 0
            THEN CAST(margin AS DOUBLE) / CAST(n_terms AS DOUBLE)
            ELSE 0.0 END AS score,
       margin >= 0 AS pred
FROM m
"""


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def q_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic dataset mixing to a 50/30/20 target over three
    sources, scarcest source kept whole."""
    d = load_table(spark, sf, "documents")
    return sampling.mixture_sample(
        d.select("doc_id", "source"), _MIX_WEIGHTS, salt="mix"
    ).select("doc_id", "source")


_MIX_SHARES = ",\n  ".join(
    f"('{s}', CAST({w / sum(_MIX_WEIGHTS.values())!r} AS DOUBLE))"
    for s, w in _MIX_WEIGHTS.items()
)

SQL_MIXTURE_SAMPLE = f"""
WITH shares(source, share) AS (VALUES {_MIX_SHARES}),
counts AS (
  SELECT d.source, COUNT(*) AS cnt
  FROM documents d JOIN shares s ON s.source = d.source
  GROUP BY d.source
),
t AS (
  SELECT MIN(CAST(c.cnt AS DOUBLE) / s.share) AS t
  FROM counts c JOIN shares s ON s.source = c.source
),
frac AS (
  SELECT c.source, (s.share * t.t) / CAST(c.cnt AS DOUBLE) AS f
  FROM counts c JOIN shares s ON s.source = c.source, t
)
SELECT d.doc_id, d.source
FROM documents d JOIN frac ON frac.source = d.source
WHERE CAST({_hash16_sql('d.doc_id', 'mix')} AS DOUBLE) < frac.f * 65536.0
"""


# DSIR log-ratio parameters: 64 hashed-feature buckets with a fixed
# deterministic milli-nat log(p_target/p_raw) per bucket (Knuth
# multiplicative scatter into [-1000, 1000]). In real use these come
# from the offline multinomial fit over a target sample; a literal
# vector exercises the identical scoring plan and replays exactly.
_DSIR_B = 64
_DSIR_LR = [((b * 2654435761) % 2001) - 1000 for b in range(_DSIR_B)]


def q_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023): exact-integer hashed
    unigram+bigram importance weights over the corpus, top 50 docs by
    weight. The declared row attests the exact scoring fold; the
    Gumbel-top-k resampler (sampling.dsir_resample) is pytest-pinned
    (its ln-based priorities are selection-only, not oracle columns).
    Rank AFTER the top-k cut (TakeOrdered + tiny window — never a
    global single-partition window over the corpus)."""
    from pyspark.sql import Window

    d = load_table(spark, sf, "documents")
    w = sampling.dsir_log_weights(d, _DSIR_LR)
    top = w.orderBy(F.desc("logw_millinats"), F.col("doc_id")).limit(50)
    win = Window.orderBy(F.desc("logw_millinats"), F.col("doc_id"))
    return top.select(
        "doc_id",
        "n_feats",
        "logw_millinats",
        F.row_number().over(win).cast("int").alias("rnk"),
    )


def _dsir_bucket_sql(feat: str) -> str:
    """First 16 bits of md5('dsir' || feat) mod B — the hash16 nibble
    spelling applied to a feature expression (md5 re-evaluates per
    nibble; fine at oracle SF)."""
    h = f"md5('dsir' || {feat})"

    def nib(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"

    return (
        f"(({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"
        f" % {_DSIR_B})"
    )


SQL_DSIR_WEIGHTS = f"""
WITH lr(v) AS (VALUES (ARRAY[{", ".join(str(v) for v in _DSIR_LR)}])),
t AS (
  SELECT doc_id,
         regexp_extract_all(lower(COALESCE(text, '')), '[a-z0-9]+') AS tt
  FROM documents
),
f AS (
  SELECT doc_id,
         list_concat(
           tt,
           list_transform(range(1, len(tt)),
                          i -> tt[i] || '_' || tt[i + 1])
         ) AS ff
  FROM t
),
w AS (
  SELECT doc_id,
         CAST(len(ff) AS BIGINT) AS n_feats,
         CAST(COALESCE(
           list_sum(list_transform(ff, x -> lr.v[{_dsir_bucket_sql('x')} + 1])),
           0) AS BIGINT) AS logw_millinats
  FROM f, lr
)
SELECT doc_id, n_feats, logw_millinats, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY logw_millinats DESC, doc_id) AS rnk
  FROM w
) WHERE rnk <= 50
"""


def q_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS winnowing substring-overlap candidates (Schleimer et al.
    2003): window-min fingerprints over word 4-gram hashes (w=4),
    high-df fingerprints cut, pairs sharing >= 2 fingerprints with the
    shared count — the local-run exact-substring complement to the
    Jaccard/minhash global-overlap family."""
    d = load_table(spark, sf, "documents")
    return dedup.winnow_pairs(d, k=4, w=4, min_shared=2, max_doc_freq=20)


SQL_WINNOW_PAIRS = """
WITH tok AS (
  SELECT doc_id,
         regexp_extract_all(lower(COALESCE(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(
           range(1, len(t) - 2),
           i -> substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           || ' ' || t[i+3]), 1, 8)
         ) AS hs
  FROM tok WHERE len(t) >= 4
),
wd AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4
              THEN list_transform(range(1, len(hs) - 2),
                                  i -> list_min(hs[i:i+3]))
              ELSE [list_min(hs)] END AS fps
  FROM h WHERE len(hs) > 0
),
f AS (SELECT DISTINCT doc_id, fp FROM wd, UNNEST(wd.fps) AS u(fp)),
cut AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 20),
fc AS (SELECT f.doc_id, f.fp FROM f JOIN cut USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM fc a JOIN fc b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
"""


def q_embedding_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 quantization of the embeddings table — codes and
    scales bit-replayable (floor(x+0.5) rounding, fixed IEEE ops). The
    API returns codes as array<int>; the query surface posexplodes to
    (vec_id, scale, pos, code) rows for the driver's canonicalizer."""
    e = load_table(spark, sf, "embeddings")
    q = similarity.quantize_embeddings(e)
    # posexplode_outer: see q_hashed_embedding (codes is always
    # dim elements; inner explode would re-inline the quantize
    # expressions into an inferred size-filter)
    return q.select(
        "vec_id", "scale", F.posexplode_outer("codes").alias("pos", "code")
    )


SQL_EMBEDDING_QUANTIZE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e)
SELECT vec_id,
       maxabs / 127.0 AS scale,
       CAST(i - 1 AS INT) AS pos,
       CAST(CASE WHEN maxabs > 0
                 THEN FLOOR(v[i] / (maxabs / 127.0) + 0.5)
                 ELSE 0 END AS INT) AS code
FROM m, LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
"""


_NEARDUP_PLANES = similarity.hyperplane_planes(_EMB_DIM, 6, seed=42)


def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed candidate
    self-join + DECIMAL-exact rescoring (datapipe.similarity.
    embedding_neardup_pairs). The synthetic embeddings have no true
    near-dups (max pairwise cos ~0.51), so the row exercises the
    operator at a data-appropriate threshold; production threshold
    would be ~0.9+. num_planes is the recall/cost knob: 6 planes = 64
    buckets keeps the candidate self-join ~1/64 of all-pairs while
    true near-dup pairs (cos 0.9+) rarely straddle a hyperplane; the
    0.3-cosine pairs counted here are exactly the ones LSH is ALLOWED
    to miss, and the oracle replays the same buckets so both engines
    miss identically."""
    e = load_table(spark, sf, "embeddings")
    return _round9(
        similarity.embedding_neardup_pairs(
            e, threshold=0.3, num_planes=6, seed=42, dim=_EMB_DIM
        ),
        "cos",
    )


SQL_EMBEDDING_NEARDUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes(j, p) AS (
  VALUES {_vals(_NEARDUP_PLANES)}
),
dots AS (
  SELECT e.vec_id, pl.j,
         SUM(CAST(e.v[i] * pl.p[i] AS DECIMAL(38,18))) AS dot
  FROM e, planes pl, LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY e.vec_id, pl.j
),
b AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot >= 0 THEN (1 << j) ELSE 0 END) AS INT) AS bucket
  FROM dots GROUP BY vec_id
),
cand AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c USING (bucket)
  WHERE a.vec_id < c.vec_id
),
scored AS (
  SELECT cand.id_a, cand.id_b,
         SUM(CAST(q.v[i] * c.v[i] AS DECIMAL(38,18))) AS dot,
         SUM(CAST(q.v[i] * q.v[i] AS DECIMAL(38,18))) AS qq,
         SUM(CAST(c.v[i] * c.v[i] AS DECIMAL(38,18))) AS cc
  FROM cand
  JOIN e q ON q.vec_id = cand.id_a
  JOIN e c ON c.vec_id = cand.id_b,
  LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY cand.id_a, cand.id_b
)
SELECT id_a, id_b,
       ROUND(CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))), 9) AS cos
FROM scored
WHERE CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) >= 0.3
"""


#: SemDeDup cluster centroids: 16 seeded +-1 vectors (equal-norm, so
#: dot-argmax == cosine-argmax — the ivf_assign_exact property).
_SEMDEDUP_CENTROIDS = similarity.hyperplane_planes(_EMB_DIM, 16, seed=23)


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup semantic deduplication (similarity.semantic_dedup):
    cluster to 16 fixed centroids, drop within-cluster lower-id
    near-dups, keep the rest. Threshold 0.3 is data-appropriate for
    the synthetic embeddings (max pairwise cos ~0.51 — production
    would run ~0.9+); same rationale as embedding_neardup. Every stage
    is DECIMAL-exact, so kept-set and cluster ids replay bit-for-bit
    in the oracle."""
    e = load_table(spark, sf, "embeddings")
    return similarity.semantic_dedup(
        e, _SEMDEDUP_CENTROIDS, threshold=0.3
    )


SQL_SEMANTIC_DEDUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents(j, c) AS (
  VALUES {{vals}}
),
dots AS (
  SELECT e.vec_id, ct.j,
         SUM(CAST(e.v[i] * ct.c[i] AS DECIMAL(38,18))) AS dot
  FROM e, cents ct, LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY e.vec_id, ct.j
),
assign AS (
  SELECT vec_id, j AS list_id FROM (
    SELECT vec_id, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, j ASC) AS rn
    FROM dots
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         SUM(CAST(ea.v[i] * eb.v[i] AS DECIMAL(38,18))) AS dot,
         SUM(CAST(ea.v[i] * ea.v[i] AS DECIMAL(38,18))) AS aa,
         SUM(CAST(eb.v[i] * eb.v[i] AS DECIMAL(38,18))) AS bb
  FROM assign a JOIN assign b USING (list_id)
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id,
  LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  WHERE a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
dropped AS (
  SELECT DISTINCT id_b AS vec_id FROM pairs
  WHERE CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(aa AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(bb AS VARCHAR) AS DOUBLE))) >= 0.3
)
SELECT a.vec_id, CAST(a.list_id AS INT) AS list_id
FROM assign a
WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
""".replace("{vals}", _vals(_SEMDEDUP_CENTROIDS))


def q_semantic_dedup_prod(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION semantic_dedup tier (exact=False,
    assignment="hierarchical" — float dots, coarse-then-fine O(sqrt(k)*d)
    centroid routing), driver-attested via an in-query agreement
    contract against the DECIMAL-exact tier (the _ann_recall_contract
    pattern): this is the spelling whose pair stage stays linear at
    100 TB because k can grow with the corpus (the exact tier is
    Theta(N^1.5) at its optimal k — measured cost model in the
    semantic_dedup docstring / SCALE.md r13).

    Output (one row): n_total / n_exact are exact values the oracle
    recomputes independently; agree_ok asserts the production tier
    re-keeps >= 50% of the exact tier's kept set (measured 88% at
    sf0.001, 85% at sf0.01 — 1.7x margin; the synthetic noise
    embeddings are the WORST case for hierarchical routing, since all
    centroid dots are near-equidistant and half the vectors route to a
    different cluster); size_ok asserts the production kept count is
    within +-50% of the exact count (measured 1.04x / 0.95x). A broken
    production tier — wrong routing scale, inverted threshold, dropped
    normalization — collapses agreement toward zero and flips the hash
    red. Both tiers are run-to-run deterministic: every float fold is
    a row-local fixed-order projection, never a shuffle-ordered
    aggregate."""
    e = load_table(spark, sf, "embeddings")
    # localCheckpoint (lazy, r16): each tier's kept set feeds BOTH the
    # agreement intersection and its own count aggregate — without it
    # the whole tier (centroid assignment + cluster-bounded pair
    # stage) runs once per consumer (guide §2.4 diamond-lineage rule;
    # the r16 plan audit showed 13 embedding scans; `tools/dump_plans.py`
    # regenerates it). Kept sets are id-sized; recomputed per
    # invocation.
    exact = similarity.semantic_dedup(
        e, _SEMDEDUP_CENTROIDS, threshold=0.3
    ).transform(lazy_checkpoint)
    prod = similarity.semantic_dedup(
        e,
        _SEMDEDUP_CENTROIDS,
        threshold=0.3,
        exact=False,
        assignment="hierarchical",
    ).transform(lazy_checkpoint)
    inter = exact.select("vec_id").join(prod.select("vec_id"), "vec_id")
    stats = (
        e.agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(F.broadcast(exact.agg(F.count(F.lit(1)).alias("n_exact"))))
        .crossJoin(F.broadcast(prod.agg(F.count(F.lit(1)).alias("__n_prod"))))
        .crossJoin(F.broadcast(inter.agg(F.count(F.lit(1)).alias("__n_inter"))))
    )
    return stats.select(
        "n_total",
        "n_exact",
        (F.col("__n_inter") * 2 >= F.col("n_exact")).alias("agree_ok"),
        (
            (F.col("__n_prod") * 2 >= F.col("n_exact"))
            & (F.col("__n_prod") * 2 <= F.col("n_exact") * 3)
        ).alias("size_ok"),
    )


# the oracle recomputes the EXACT tier's kept count independently via
# the same DECIMAL pipeline as SQL_SEMANTIC_DEDUP and asserts the
# agreement booleans (TRUE literals, the SQL_ANN_RECALL convention)
SQL_SEMANTIC_DEDUP_PROD = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents(j, c) AS (
  VALUES {{vals}}
),
dots AS (
  SELECT e.vec_id, ct.j,
         SUM(CAST(e.v[i] * ct.c[i] AS DECIMAL(38,18))) AS dot
  FROM e, cents ct, LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY e.vec_id, ct.j
),
assign AS (
  SELECT vec_id, j AS list_id FROM (
    SELECT vec_id, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, j ASC) AS rn
    FROM dots
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         SUM(CAST(ea.v[i] * eb.v[i] AS DECIMAL(38,18))) AS dot,
         SUM(CAST(ea.v[i] * ea.v[i] AS DECIMAL(38,18))) AS aa,
         SUM(CAST(eb.v[i] * eb.v[i] AS DECIMAL(38,18))) AS bb
  FROM assign a JOIN assign b USING (list_id)
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id,
  LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  WHERE a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
dropped AS (
  SELECT DISTINCT id_b AS vec_id FROM pairs
  WHERE CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(aa AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(bb AS VARCHAR) AS DOUBLE))) >= 0.3
)
SELECT (SELECT COUNT(*) FROM e) AS n_total,
       (SELECT COUNT(*) FROM assign a
        WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)) AS n_exact,
       TRUE AS agree_ok,
       TRUE AS size_ok
""".replace("{vals}", _vals(_SEMDEDUP_CENTROIDS))


#: Fixed BM25 query set over the corpus vocabulary (engine words).
BM25_QUERIES = [
    (0, "hash join merge"),
    (1, "window agg group"),
    (2, "stream batch data"),
    (3, "scan filter column vector"),
]


def q_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 top-10 lexical retrieval (textstats.bm25_search):
    rational idf + bigint-cleared tf normalization + term-order-fixed
    float fold, so scores AND ranking replay bit-for-bit in DuckDB."""
    d = load_table(spark, sf, "documents")
    return textstats.bm25_search(d, BM25_QUERIES, k=10)


_BM25_Q_VALUES = ",".join(
    f"({qid},'{t}')"
    for qid, qtext in BM25_QUERIES
    for t in sorted(set(qtext.split()))
)

SQL_BM25_SEARCH = f"""
WITH t AS (
  SELECT doc_id, u.term
  FROM documents,
       LATERAL UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n, SUM(dl) AS tt FROM dl),
q(query_id, term) AS (VALUES {_BM25_Q_VALUES}),
hits AS (
  SELECT q.query_id, tf.doc_id, tf.term,
         CAST(44 * tf.tf * stats.tt * (stats.n + 1) AS DOUBLE)
         / CAST((10 * stats.tt * tf.tf + 3 * stats.tt + 9 * dl.dl * stats.n)
                * (2 * dfreq.df + 1) AS DOUBLE) AS s
  FROM tf
  JOIN q USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id), stats
),
agg AS (
  SELECT query_id, doc_id, COUNT(*) AS n_hit,
         list_reduce(list(s ORDER BY term), (a, b) -> a + b) AS score
  FROM hits GROUP BY 1, 2
)
SELECT query_id, doc_id, n_hit, score, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
  FROM agg
) WHERE rnk <= 10
"""


def q_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Exact triangle count (components.triangle_count) over the
    near-dup pair graph (n-gram Jaccard >= 0.2) — measures
    dup-cluster cliquishness: planted duplicate groups are
    near-cliques, so the triangle count tracks how transitive the
    pairwise near-dup relation actually is. Degree-ordered
    orientation keeps the wedge join O(|E|^1.5)-bounded; the oracle
    is the textbook a<b<c triple self-join."""
    d = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, threshold=0.2, max_doc_freq_frac=0.04, max_doc_freq=2000
    ).select("id_a", "id_b")
    return components.triangle_count(pairs)


SQL_TRIANGLE_COUNT = _SH_CUT_CTE + """,
pairs AS (
  SELECT id_a AS a, id_b AS b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.2
)
SELECT
  (SELECT COUNT(DISTINCT v) FROM (SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs)) AS n_nodes,
  (SELECT COUNT(*) FROM pairs) AS n_edges,
  (SELECT COUNT(*)
   FROM pairs e1 JOIN pairs e2 ON e2.a = e1.b
   JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
"""


def q_rendezvous_shard(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous/HRW sharding (sampling.rendezvous_shard): stable
    8-way shard assignment for the corpus — adding a 9th shard would
    move only ~1/9 of keys (asserted in pytest); the md5 race replays
    identically in the oracle."""
    d = load_table(spark, sf, "documents")
    return sampling.rendezvous_shard(d.select("doc_id"), "doc_id", 8)


SQL_RENDEZVOUS_SHARD = """
WITH s AS (
  SELECT doc_id, j,
         md5('hrw' || j || ':' || COALESCE(CAST(doc_id AS VARCHAR), '__null__')) AS h
  FROM documents, LATERAL UNNEST(range(0, 8)) AS t(j)
)
SELECT doc_id, CAST(j AS INT) AS shard FROM (
  SELECT doc_id, j, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, j DESC) AS rn
  FROM s
) WHERE rn = 1
"""


def q_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-epoch shuffle (sampling.epoch_shuffle):
    seeded md5 permutation + balanced 8-way shard addresses — the
    shape a 100 TB training-data export writes (one file per shard,
    rows in epoch_pos order; same seed replays the same epoch). One
    shuffle on shard + in-partition sort; no global ORDER BY."""
    d = load_table(spark, sf, "documents")
    return sampling.epoch_shuffle(d.select("doc_id"), "doc_id", 8, seed="epoch0")


SQL_EPOCH_SHUFFLE = """
WITH h AS (
  SELECT doc_id,
         md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
s AS (
  SELECT doc_id, h,
         CAST(('0x' || substr(h, 1, 8))::BIGINT % 8 AS INT) AS shard
  FROM h
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT)
         AS epoch_pos
FROM s
"""


def q_duplicate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated 8-token spans per document (curation.duplicate_spans)
    — the n-gram-hash spelling of exact-substring dedup; high dup_frac
    marks boilerplate/self-repetition the doc-level dedup tiers keep."""
    d = load_table(spark, sf, "documents")
    return curation.duplicate_spans(d, span_tokens=8)


SQL_DUPLICATE_SPANS = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
  FROM documents
),
sp AS (
  SELECT doc_id,
         md5(array_to_string(tok[i + 1 : i + 8], chr(31))) AS sh
  FROM t, LATERAL UNNEST(range(0, GREATEST(len(tok) - 8 + 1, 0))) AS u(i)
),
g AS (SELECT sh, COUNT(*) AS nocc FROM sp GROUP BY 1),
pd AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN nocc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM sp JOIN g USING (sh) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(pd.n_spans, 0) AS n_spans,
       COALESCE(pd.n_dup, 0) AS n_dup_spans,
       CASE WHEN COALESCE(pd.n_spans, 0) > 0
            THEN CAST(pd.n_dup AS DOUBLE) / CAST(pd.n_spans AS DOUBLE)
            ELSE 0.0 END AS dup_frac
FROM documents d LEFT JOIN pd USING (doc_id)
"""




def q_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc bigram LM perplexity (datapipe.lm.lm_perplexity): the
    CCNet-style quality filter — score every document under an
    add-one bigram model trained on the corpus itself. Every
    probability is a ratio of exact bigint counts, so the one ln()
    per bigram is the only libm call; ROUND(,9)/(,6) absorbs its
    <=2-ulp cross-engine drift (the documented float doctrine)."""
    from cubert_spark.datapipe.lm import lm_perplexity

    return lm_perplexity(load_table(spark, sf, "documents"))


SQL_LM_PERPLEXITY = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT ws[i] AS x FROM w, LATERAL UNNEST(range(1, len(ws) + 1)) AS t(i)),
uni AS (SELECT x, COUNT(*) AS c_x FROM tok GROUP BY 1),
v AS (SELECT COUNT(*) AS V FROM uni),
bg AS (SELECT doc_id, ws[i] AS x, ws[i + 1] AS y
       FROM w, LATERAL UNNEST(range(1, len(ws))) AS t(i)
       WHERE len(ws) >= 2),
bgc AS (SELECT x, y, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
scored AS (
  SELECT bg.doc_id,
         -ln(CAST(bgc.c_xy + 1 AS DOUBLE) / CAST(uni.c_x + v.V AS DOUBLE)) AS nll
  FROM bg JOIN bgc USING (x, y) JOIN uni USING (x) CROSS JOIN v
),
agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, AVG(nll) AS a
        FROM scored GROUP BY 1)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       ROUND(a, 9) AS avg_nll, ROUND(EXP(a), 6) AS ppl
FROM agg
"""


def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives): for each of
    the 10 anchor vectors, the 5 most-cosine-similar vectors with a
    DIFFERENT cluster label — the DPR-style contrastive-training
    negative set. DECIMAL-exact dot products; anchors broadcast; the
    corpus never shuffles before the WindowGroupLimit k-cut."""
    e = load_table(spark, sf, "embeddings")
    return _round9(
        similarity.hard_negatives(
            e, e.filter(F.col("vec_id") < 10), k=5, known_count=10
        ),
        "cos",
    )


SQL_HARD_NEGATIVES = """
WITH q AS (SELECT vec_id AS anchor_id, label AS anchor_label,
                  CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS negative_id, label AS clabel,
             CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT anchor_id, anchor_label, negative_id,
         SUM(CAST(qv[i] * cv[i] AS DECIMAL(38,18))) AS dot,
         SUM(CAST(qv[i] * qv[i] AS DECIMAL(38,18))) AS qq,
         SUM(CAST(cv[i] * cv[i] AS DECIMAL(38,18))) AS cc
  FROM q, c, LATERAL UNNEST(range(1, len(qv) + 1)) AS t(i)
  WHERE anchor_label <> clabel
  GROUP BY anchor_id, anchor_label, negative_id
),
ranked AS (
  SELECT anchor_id, anchor_label, negative_id,
         CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY anchor_id
           ORDER BY CAST(CAST(dot AS VARCHAR) AS DOUBLE) / (sqrt(CAST(CAST(qq AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cc AS VARCHAR) AS DOUBLE))) DESC,
                    negative_id
         ) AS rnk
  FROM scored
)
SELECT anchor_id, anchor_label, negative_id, ROUND(cos, 9) AS cos,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
"""


def q_neardup_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Batch twin of the streaming near-dup ingest
    (streaming.ingest.ingest_neardup — this row is its driver
    attestation): screen the src19 "incoming batch" against a band
    LEDGER built from the rest of the corpus, using the same
    shingle -> minhash -> band functions and the same admission rule:
    rejected iff any band key exists in the ledger or is shared by a
    smaller-id doc within the batch. Output: every src19 doc with its
    admitted flag. md5-lane minhash, so the oracle reproduces every
    band key."""
    from cubert_spark.datapipe.dedup import (
        lsh_bands,
        minhash_signature,
        reject_by_bands,
        shingle_table,
    )

    d = load_table(spark, sf, "documents")
    sh = shingle_table(d, "text", "doc_id", 3)
    bands = lsh_bands(minhash_signature(sh, "doc_id", 8), "doc_id", 8, 2)
    src = d.select("doc_id", "source")
    # the band table feeds FOUR consumers (batch slice, ledger slice,
    # both hit joins) — checkpoint once or the shingle+signature build
    # re-executes per branch (the components.py lineage pattern)
    bands = bands.join(src, "doc_id").transform(eager_checkpoint)
    batch = bands.filter(F.col("source") == "src19")
    ledger = bands.filter(F.col("source") != "src19").select(
        "band_idx", "band_key"
    )
    # SAME rule implementation as the streaming sink (reject_by_bands
    # — that sharing IS the twin's attestation value)
    rejected = reject_by_bands(batch, "doc_id", ledger).withColumn(
        "__rej", F.lit(True)
    )
    return (
        d.filter(F.col("source") == "src19")
        .select("doc_id")
        .join(rejected, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(~F.col("__rej"), F.lit(True)).alias("admitted"),
        )
    )


_NI_SIG_COLS = ",\n       ".join(
    f"MIN(substr(md5('{i // 4}|' || shingle), {1 + 8 * (i % 4)}, 8)) AS h{i}"
    for i in range(8)
)
_NI_BANDS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_idx, md5(h{2*b} || h{2*b+1}) AS band_key FROM sig"
    for b in range(4)
)

SQL_NEARDUP_INGEST = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(words, i, i+2), ' ') AS shingle
  FROM w, LATERAL UNNEST(range(1, len(words) - 1)) AS t(i)
  WHERE len(words) >= 3
),
sig AS (SELECT doc_id, {_NI_SIG_COLS} FROM sh GROUP BY doc_id),
all_bands AS ({_NI_BANDS}),
bands AS (SELECT b.doc_id, b.band_idx, b.band_key, d.source
          FROM all_bands b JOIN documents d USING (doc_id)),
batch AS (SELECT * FROM bands WHERE source = 'src19'),
ledger AS (SELECT band_idx, band_key FROM bands WHERE source <> 'src19'),
rejected AS (
  SELECT DISTINCT b.doc_id FROM batch b
  JOIN ledger l ON b.band_idx = l.band_idx AND b.band_key = l.band_key
  UNION
  SELECT DISTINCT a.doc_id FROM batch a
  JOIN batch b2 ON a.band_idx = b2.band_idx AND a.band_key = b2.band_key
              AND b2.doc_id < a.doc_id
)
SELECT doc_id, doc_id NOT IN (SELECT doc_id FROM rejected) AS admitted
FROM documents WHERE source = 'src19'
"""


def q_soft_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Soft deduplication by reweighting (dedup.soft_dedup_weights,
    SoftDedup / He et al. 2024 lineage): per-doc shingle-commonness
    and a monotone-decay sampling weight, all integer-exact ppm
    arithmetic — the LINEAR alternative to pair-based dedup (three
    keyed shuffles, zero pair expansion, no df cut needed)."""
    d = load_table(spark, sf, "documents")
    return dedup.soft_dedup_weights(d)


SQL_SOFT_DEDUP = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(words, i, i+2), ' ') AS shingle
  FROM w, LATERAL UNNEST(range(1, len(words) - 1)) AS t(i)
  WHERE len(words) >= 3
),
nd AS (SELECT COUNT(*) AS n_docs FROM documents
       WHERE len(string_split(text, ' ')) >= 3),
freq AS (
  SELECT shingle,
         CAST((COUNT(*) * 1000000) // (SELECT n_docs FROM nd) AS BIGINT) AS df_ppm
  FROM sh GROUP BY 1
),
perdoc AS (
  SELECT sh.doc_id, COUNT(*) AS n_shingles, SUM(freq.df_ppm) AS s
  FROM sh JOIN freq USING (shingle) GROUP BY 1
)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(s // n_shingles AS BIGINT) AS commonness_ppm,
       CAST(1000000000000 // (1000000 + (s // n_shingles)) AS BIGINT) AS weight_ppm
FROM perdoc
"""


def q_perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail corpus split (lm.perplexity_buckets,
    Wenzek et al. 2020 §4.3): per-language NTILE(3) over the bigram-LM
    perplexity. Ranking key (ppl, doc_id) is total and grid-exact, so
    bucket boundaries replay in DuckDB. The sketch-threshold tier
    (zero sorts — the 100 TB path) is pytest-pinned against this
    exact tier instead of oracle-compared."""
    from cubert_spark.datapipe.lm import perplexity_buckets

    return perplexity_buckets(load_table(spark, sf, "documents"))


SQL_PERPLEXITY_BUCKETS = f"""
WITH p AS ({SQL_LM_PERPLEXITY}),
j AS (SELECT p.doc_id, d.lang, p.ppl FROM p JOIN documents d USING (doc_id))
SELECT doc_id, lang, ppl,
       CASE ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM j
"""


def q_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-flattened source sampling at alpha=0.5
    (sampling.temperature_mix, mC4/XLM-R alpha-sampling lineage):
    keep rate per source = sqrt(min_cnt/cnt) — divide and sqrt are
    both IEEE-correctly-rounded, so the md5-gated kept set replays
    bit-for-bit. Zero corpus shuffles (broadcast rates + pushed
    gate)."""
    d = load_table(spark, sf, "documents")
    return sampling.temperature_mix(
        d.select("doc_id", "source"), source_col="source", key="doc_id"
    )


SQL_TEMPERATURE_MIX = f"""
WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
m AS (SELECT MIN(cnt) AS mn FROM c),
r AS (SELECT source, sqrt(CAST(mn AS DOUBLE) / CAST(cnt AS DOUBLE)) AS rate
      FROM c CROSS JOIN m)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE CAST({_hash16_sql('d.doc_id', 'temp')} AS DOUBLE) < r.rate * 65536.0
"""


def q_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus assembly (sampling.token_budget_select):
    keep documents in deterministic md5-priority order until 50% of
    the corpus's tokens are spent — a distributed two-level prefix
    sum (value-contiguous priority shards off a 1-row min/max stat;
    the only unpartitioned window runs over the n_shards shard
    totals). The prefix rule (first overflowing doc drops, no
    back-fill) makes membership engine-exact."""
    d = load_table(spark, sf, "documents")
    return sampling.token_budget_select(d, budget_frac=0.5)


SQL_TOKEN_BUDGET = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         {_hash16_sql('doc_id', 'budget')} AS h
  FROM documents
),
tot AS (SELECT CAST(floor(SUM(n_tokens) * 0.5) AS BIGINT) AS thresh FROM t),
c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (
           ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, cum_tokens
FROM c, tot
WHERE cum_tokens <= thresh
"""


def q_token_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset mixing by TOKEN shares instead of document counts
    (sampling.mixture_sample with size_col) — the units real LLM data
    recipes specify ("50% of tokens from web"). Same
    scarcest-source-kept-whole sizing and md5 gate; per-source sums
    of bigint token counts keep every step engine-exact."""
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), "\\s+")).cast("bigint").alias(
            "__n_toks"
        ),
    )
    return sampling.mixture_sample(
        d, _MIX_WEIGHTS, salt="tmix", size_col="__n_toks"
    ).select("doc_id", "source")


SQL_TOKEN_MIXTURE = f"""
WITH shares(source, share) AS (VALUES {_MIX_SHARES}),
counts AS (
  SELECT d.source,
         SUM(CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)) AS cnt
  FROM documents d JOIN shares s ON s.source = d.source
  GROUP BY d.source
),
t AS (
  SELECT MIN(CAST(c.cnt AS DOUBLE) / s.share) AS t
  FROM counts c JOIN shares s ON s.source = c.source
),
frac AS (
  SELECT c.source, (s.share * t.t) / CAST(c.cnt AS DOUBLE) AS f
  FROM counts c JOIN shares s ON s.source = c.source, t
)
SELECT d.doc_id, d.source
FROM documents d JOIN frac ON frac.source = d.source
WHERE CAST({_hash16_sql('d.doc_id', 'tmix')} AS DOUBLE) < frac.f * 65536.0
"""


def q_gopher_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher quality-filter rule set (textstats.gopher_rules,
    Rae et al. 2021 Appendix A.1.1): every rule emitted as its own
    boolean + the conjunction, for all documents. Every ratio
    threshold is an integer cross-multiplication — no float is ever
    computed, so the flags replay bit-for-bit. One codegen
    projection, zero shuffles."""
    d = load_table(spark, sf, "documents")
    return textstats.gopher_rules(d)


_GOPHER_STOPS = ", ".join(repr(s) for s in textstats.GOPHER_STOPWORDS)

SQL_GOPHER_FILTER = f"""
WITH f AS (
  SELECT doc_id,
         string_split_regex(text, '\\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         LEN(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym
  FROM documents
),
g AS (
  SELECT doc_id,
         LEN(toks) AS n,
         list_aggregate(list_transform(toks, w -> LENGTH(w)), 'sum') AS sum_len,
         LEN(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
         LEN(list_filter([{_GOPHER_STOPS}],
             s -> list_contains(list_transform(toks, w -> lower(w)), s))) AS stop_present,
         n_sym,
         LEN(lines) AS n_lines,
         LEN(list_filter(lines, l -> ends_with(l, '...'))) AS ell_lines,
         LEN(list_filter(lines, l -> starts_with(l, '-') OR starts_with(l, '*')
                                      OR starts_with(l, '•'))) AS bullet_lines
  FROM f
)
SELECT doc_id,
       CAST(n AS INT) AS n_words,
       COALESCE(n >= 50 AND n <= 100000, FALSE) AS r_word_count,
       COALESCE(sum_len >= 3 * n AND sum_len <= 10 * n, FALSE) AS r_mean_word_len,
       COALESCE(5 * alpha_words >= 4 * n, FALSE) AS r_alpha_frac,
       COALESCE(stop_present >= 2, FALSE) AS r_stopwords,
       COALESCE(10 * ell_lines <= 3 * n_lines, FALSE) AS r_ellipsis_lines,
       COALESCE(10 * bullet_lines < 9 * n_lines, FALSE) AS r_bullet_lines,
       COALESCE(10 * n_sym < n, FALSE) AS r_symbol_ratio,
       (COALESCE(n >= 50 AND n <= 100000, FALSE)
        AND COALESCE(sum_len >= 3 * n AND sum_len <= 10 * n, FALSE)
        AND COALESCE(5 * alpha_words >= 4 * n, FALSE)
        AND COALESCE(stop_present >= 2, FALSE)
        AND COALESCE(10 * ell_lines <= 3 * n_lines, FALSE)
        AND COALESCE(10 * bullet_lines < 9 * n_lines, FALSE)
        AND COALESCE(10 * n_sym < n, FALSE)) AS keep
FROM g
"""


def q_cluster_reps(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware dedup survivors (components.cluster_representatives,
    SlimPajama keep-the-longest lineage): near-dup clusters from the
    scale-safe cut pair graph, survivor = the member with max n_chars
    (ties to the smaller id via one bigint argmax key) — one max_by
    agg on top of the checkpointed CC labeling, no window."""
    d = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, threshold=0.2, max_doc_freq_frac=0.04, max_doc_freq=2000
    ).select("id_a", "id_b")
    return components.cluster_representatives(
        pairs, d.select("doc_id", "n_chars")
    )


# the dedup_clusters transitive closure with a quality-argmax end-cap
SQL_CLUSTER_REPS = SQL_DEDUP_CLUSTERS.replace(
    "SELECT id AS doc_id, MIN(lbl) AS rep_id FROM reach GROUP BY id",
    """,
clusters AS (SELECT id AS doc_id, MIN(lbl) AS rep_id FROM reach GROUP BY id)
SELECT c.rep_id,
       arg_max(c.doc_id, LEAST(CAST(d.n_chars AS BIGINT), 900000000) * 10000000000 - c.doc_id) AS kept_id,
       COUNT(*) AS n_members
FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
GROUP BY c.rep_id""",
)


def q_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source document quota (sampling.per_group_cap, RefinedWeb
    per-domain-cap lineage): keep <= 40 docs per source by
    deterministic md5 ranking. rank<=k plans as WindowGroupLimit —
    each map task forwards at most cap rows per group, so a hot
    domain's shuffle volume is O(tasks * cap), not its row count
    (plan-asserted in pytest)."""
    d = load_table(spark, sf, "documents")
    return sampling.per_group_cap(
        d.select("doc_id", "source"), group_col="source", key="doc_id", cap=40
    )


SQL_DOMAIN_CAP = """
SELECT doc_id, source,
       CAST(row_number() OVER (
         PARTITION BY source
         ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS INT) AS rk
FROM documents
QUALIFY rk <= 40
"""


def q_c4_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The C4 cleaning heuristics (textstats.c4_rules, Raffel et al.
    2020 §2.2): line-terminal-punctuation / min-words-per-line /
    javascript line rules + lorem-ipsum / curly-brace / min-sentences
    page rules, every flag for every document. The testdata corpus is
    single-line and punctuation-free, so the demo synthesizes the
    line structure DETERMINISTICALLY first (a sentence break after
    every 7th word, page-level markers keyed on doc_id) — the same
    in-query fixture convention as the multimodal/PII rows. One
    codegen projection end to end, zero shuffles."""
    d = load_table(spark, sf, "documents")
    structured = F.concat(
        F.when(F.col("doc_id") % 37 == 0, F.lit("{ ")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 41 == 0, F.lit("lorem ipsum dolor. "))
        .otherwise(F.lit("")),
        F.regexp_replace(F.col("text"), r"((\S+ ){6}\S+) ", "$1.\n"),
    )
    return textstats.c4_rules(d.withColumn("text", structured))


SQL_C4_FILTER = """
WITH s AS (
  SELECT doc_id,
         concat(
           CASE WHEN doc_id % 37 = 0 THEN '{ ' ELSE '' END,
           CASE WHEN doc_id % 41 = 0 THEN 'lorem ipsum dolor. ' ELSE '' END,
           regexp_replace(text, '((\\S+ ){6}\\S+) ', '\\1.' || chr(10), 'g')
         ) AS t
  FROM documents
), f AS (
  SELECT doc_id, t,
         string_split(t, chr(10)) AS lines,
         list_filter(
           string_split(t, chr(10)),
           l -> (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
                 OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
                AND len(string_split_regex(trim(l), ' +')) >= 5
                AND NOT contains(lower(l), 'javascript')
         ) AS kept
  FROM s
), g AS (
  SELECT doc_id,
         COALESCE(len(lines), 0) AS n_lines,
         COALESCE(len(kept), 0) AS n_kept,
         COALESCE(contains(lower(t), 'lorem ipsum'), FALSE) AS has_lorem,
         COALESCE(contains(t, '{'), FALSE) AS has_brace,
         COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
  FROM f
)
SELECT doc_id,
       CAST(n_lines AS INT) AS n_lines,
       CAST(n_kept AS INT) AS n_kept_lines,
       has_lorem, has_brace,
       CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS INT)
         AS n_sentences,
       clean_text,
       (NOT has_lorem AND NOT has_brace
        AND len(regexp_extract_all(clean_text, '[.!?]')) >= 3
        AND n_kept >= 1) AS keep
FROM g
"""


def q_doremi_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DoReMi domain reweighting (sampling.doremi_weights, Xie et al.
    2023 Algorithm 1, static-loss variant): per-source mixture
    weights from per-example excess loss via the linearized
    multiplicative-weights fold + uniform smoothing, all in exact
    ppm integers. The demo's excess-loss column is a deterministic
    integer surrogate (mean word length in milli-chars over a 4.0
    reference, clipped at 0) — the operator takes any bigint
    milli-nat column. One map-side-combined groupBy; the fold runs
    on the |sources|-row collect (the kmeans_lloyd convention)."""
    d = load_table(spark, sf, "documents")
    toks = textstats.tokens(F.col("text"))
    scored = d.select(
        "source",
        F.size(toks).cast("bigint").alias("__n"),
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, b: a + b,
        ).alias("__sl"),
    ).select(
        "source",
        F.coalesce(
            F.greatest(
                F.lit(0).cast("bigint"),
                F.expr("(1000 * __sl) div __n") - F.lit(4000),
            ),
            F.lit(0).cast("bigint"),
        ).alias("excess_milli"),
    )
    return sampling.doremi_weights(scored, domain_col="source")


SQL_DOREMI_WEIGHTS = """
WITH docs AS (
  SELECT source,
         COALESCE(GREATEST(0,
           (1000 * list_aggregate(
              list_transform(string_split_regex(text, '\\s+'),
                             w -> CAST(LENGTH(w) AS BIGINT)), 'sum'))
           // CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
           - 4000), 0) AS excess
  FROM documents
), d AS (
  SELECT source, COUNT(*) AS n_docs, SUM(excess) AS s
  FROM docs GROUP BY 1
), l AS (
  SELECT source, n_docs,
         GREATEST(0, (s - (((s % n_docs) + n_docs) % n_docs)) // n_docs)
           AS lbar
  FROM d
), u AS (
  SELECT source, n_docs, lbar,
         CAST(1000000 + (10000 * lbar) // 1000 AS HUGEINT) AS uu
  FROM l
), p AS (
  SELECT source, n_docs, lbar, uu * uu * uu * uu * uu AS u5 FROM u
), t AS (
  SELECT SUM(u5) AS tot, COUNT(*) AS nd FROM p
)
SELECT p.source AS domain,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(lbar AS BIGINT) AS lbar_milli,
       CAST((1000000 - 100000) * ((u5 * 1000000) // tot) // 1000000
            + 100000 // nd AS BIGINT) AS weight_ppm
FROM p, t
"""


def q_proto_prune(spark: SparkSession, sf: str) -> DataFrame:
    """SSL-prototypes diversity pruning (similarity.prototype_prune,
    Sorscher et al. 2022 / D4 stage 2, Tirumala et al. 2023): kmeans
    the embedding space with the exact-integer Lloyd rounds, then
    drop the most prototypical (closest-to-centroid) 30% of each
    cluster — survivors ranked farthest-first. The labeling pass is
    one zero-shuffle scan against broadcast centroid literals; the
    prune adds one shuffle on cluster_id for the per-cluster rank."""
    e = load_table(spark, sf, "embeddings")
    return similarity.prototype_prune(e, k=8, iters=3, keep_num=7, keep_den=10)


SQL_PROTO_PRUNE = f"""
SELECT vec_id, cluster_id, dist, CAST(rk AS INT) AS rk
FROM (
  SELECT vec_id, cluster_id, dist,
         ROW_NUMBER() OVER (
           PARTITION BY cluster_id ORDER BY dist DESC, vec_id) AS rk,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n
  FROM ({SQL_KMEANS_ASSIGN}) a
)
WHERE rk * 10 <= n * 7 + 9
"""


def q_unimax_budget(spark: SparkSession, sf: str) -> DataFrame:
    """UniMax budget allocation (sampling.unimax_budget, Chung et al.
    2023 Algorithm 1): water-fill a 1000-doc budget across sources
    with a 2-epoch cap, visiting sources ascending by cap — exact
    sequential integer fold on the |sources|-row collect, replayed
    by a recursive-CTE oracle. One map-side-combined groupBy over
    the corpus; the fold is corpus-independent."""
    d = load_table(spark, sf, "documents")
    return sampling.unimax_budget(d, budget=1000, max_epochs=2)


SQL_UNIMAX_BUDGET = """
WITH RECURSIVE
counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
ord AS (
  SELECT source, n, n * 2 AS cap,
         ROW_NUMBER() OVER (ORDER BY n * 2, source) AS rn,
         COUNT(*) OVER () AS m
  FROM counts
),
alloc AS (
  SELECT rn, source, n, cap,
         LEAST(cap, 1000 // m) AS a,
         1000 - LEAST(cap, 1000 // m) AS b_rem,
         m - 1 AS m_rem
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.source, o.n, o.cap,
         LEAST(o.cap, p.b_rem // p.m_rem),
         p.b_rem - LEAST(o.cap, p.b_rem // p.m_rem),
         p.m_rem - 1
  FROM alloc p JOIN ord o ON o.rn = p.rn + 1
)
SELECT source,
       CAST(n AS BIGINT) AS n_units,
       CAST(cap AS BIGINT) AS cap_units,
       CAST(a AS BIGINT) AS alloc_units,
       CAST(a * 1000000 // n AS BIGINT) AS epochs_ppm
FROM alloc
"""


#: fixed per-source epoch plan for the repeat_upsample demo row —
#: full epochs + fractional md5-gated epoch, plus a sub-epoch
#: downsample and a full drop; unlisted sources take the default
_REPEAT_PLAN = {"src0": 2_500_000, "src1": 1_000_000, "src2": 300_000,
                "src3": 0}
_REPEAT_DEFAULT = 1_500_000


def q_repeat_upsample(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch-plan materialization (sampling.repeat_upsample,
    Muennighoff et al. 2023 data-constrained-scaling lineage): each
    source's docs exploded into full epochs + an md5-gated
    fractional epoch, sub-1.0 plans downsampling — zero shuffles,
    one generate over the scan, output size = the planned budget."""
    d = load_table(spark, sf, "documents")
    return sampling.repeat_upsample(
        d, _REPEAT_PLAN, default_ppm=_REPEAT_DEFAULT
    )


_REPEAT_VALUES = ", ".join(
    f"('{s}', {v})" for s, v in sorted(_REPEAT_PLAN.items())
)

SQL_REPEAT_UPSAMPLE = f"""
WITH plan(psource, ppm) AS (VALUES {_REPEAT_VALUES}),
d AS (
  SELECT doc_id, d.source,
         CAST(COALESCE(p.ppm, {_REPEAT_DEFAULT}) AS BIGINT) AS ppm
  FROM documents d LEFT JOIN plan p ON p.psource = d.source
),
g AS (
  SELECT doc_id, source, ppm // 1000000 AS fl,
         CASE WHEN CAST({_hash16_sql('doc_id', 'repeat')} AS BIGINT)
                   * 1000000 < (ppm % 1000000) * 65536
              THEN 1 ELSE 0 END AS gate
  FROM d
)
SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
FROM g, LATERAL UNNEST(range(1, CAST(fl + gate + 1 AS BIGINT))) AS t(e)
"""


def q_decontaminate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Aggressive span decontamination (curation.decontaminate_spans,
    Brown et al. 2020 GPT-3 Appendix C): n-gram collisions with the
    benchmark set are removed together with a symmetric token window
    and the doc splits into surviving pieces. Benchmark = the
    mid-document fragment (tokens 9-16) of the doc_id % 7 == 0
    slice — collisions land INTERIOR to the colliding docs, so bench
    members and their near-dups split into leading/trailing pieces
    while clean docs pass through whole; n=6/window=2 are sized to
    the short testdata docs — the operator defaults to the paper's
    13-gram / 40-token window."""
    d = load_table(spark, sf, "documents")
    frag = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 9, 8))
    bench = d.filter(F.col("doc_id") % 7 == 0).withColumn("text", frag)
    return curation.decontaminate_spans(d, bench, n=6, window=2)


SQL_DECONTAMINATE_SPANS = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS nt
  FROM documents
),
bench AS (
  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 5), ' ') AS gram
  FROM (SELECT string_split(array_to_string(list_slice(toks, 9, 16), ' '),
                            ' ') AS toks,
               len(list_slice(toks, 9, 16)) AS nt
        FROM w WHERE doc_id % 7 = 0) b,
       LATERAL UNNEST(range(1, nt - 4)) AS t(i)
  WHERE nt >= 6
),
grams AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         array_to_string(list_slice(toks, i, i + 5), ' ') AS gram
  FROM w, LATERAL UNNEST(range(1, nt - 4)) AS t(i)
  WHERE nt >= 6
),
hits AS (SELECT doc_id, pos FROM grams JOIN bench USING (gram)),
spans0 AS (
  SELECT doc_id, GREATEST(pos - 2, 0) AS s, pos + 6 + 2 AS e FROM hits
),
marked AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ng
  FROM spans0
),
grouped AS (
  SELECT doc_id, s, e,
         SUM(ng) OVER (PARTITION BY doc_id ORDER BY s, e
                       ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
),
merged AS (
  SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM grouped GROUP BY doc_id, grp
),
spans AS (
  SELECT doc_id, list({'s': s, 'e': e} ORDER BY s, e) AS sp FROM merged
  GROUP BY doc_id
),
docs AS (
  SELECT w.doc_id, w.toks, w.nt, COALESCE(sp.sp, []) AS sp
  FROM w LEFT JOIN spans sp USING (doc_id)
),
pieces AS (
  SELECT doc_id, toks, k,
         CASE WHEN k = 0 THEN 0 ELSE LEAST(sp[k].e, nt) END AS ps,
         CASE WHEN k = len(sp) THEN nt ELSE sp[k + 1].s END AS pe
  FROM docs, LATERAL UNNEST(range(0, len(sp) + 1)) AS t(k)
),
kept AS (
  SELECT doc_id, toks, ps, pe,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k) AS piece_id,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_pieces
  FROM pieces WHERE pe > ps
)
SELECT doc_id, CAST(piece_id AS INT) AS piece_id,
       CAST(ps AS BIGINT) AS start_tok, CAST(pe AS BIGINT) AS end_tok,
       array_to_string(list_slice(toks, ps + 1, pe), ' ') AS piece_text,
       CAST(n_pieces AS BIGINT) AS n_pieces
FROM kept
"""


def q_gopher_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """The FULL Gopher repetition rule set (textstats.gopher_repetition,
    Rae et al. 2021 Appendix A.1.2 Table A1): 13 signals — dup
    line/para fractions by count and char mass, top-{2,3,4}-gram char
    fractions, dup-{5..10}-gram char coverage — as floor-ppm integers
    + the keep conjunction. Line/paragraph structure is synthesized
    deterministically (paragraph break every 21 words, line break
    every 7, duplicated lines/paras planted on doc_id % 11 / % 23) —
    the in-query fixture convention of c4_filter. n-gram stats run
    IN-ROW off sorted gram runs (r17): zero shuffles after the input
    spread, nothing quadratic in document length.

    The spread runs FIRST (r17): the fixture's two regexp_replace
    passes are the expensive per-row prelude, and below the spread
    exchange they single-thread on the one-split sf0.1 scan (measured
    0.6 s of the row's 2.0 s); spreading the raw text parallelizes
    them, and at real scale (scan splits >= cores) _spread is a no-op
    so the plan is unchanged there."""
    from cubert_spark.datapipe.dedup import _spread

    d = _spread(
        load_table(spark, sf, "documents").select("doc_id", "text"),
        "doc_id",
    )
    s1 = F.regexp_replace(F.col("text"), r"((\S+ ){20}\S+) ", "$1.\n\n")
    s2 = F.regexp_replace(s1, r"((\S+ ){6}\S+) ", "$1.\n")
    structured = F.concat(
        s2,
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("\nrepeat line marker five.\nrepeat line marker five."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 23 == 0,
            F.lit("\n\ndup para block.\n\ndup para block."),
        ).otherwise(F.lit("")),
    )
    return textstats.gopher_repetition(d.withColumn("text", structured))


def _gopher_repetition_oracle() -> str:
    from cubert_spark.datapipe.textstats import GOPHER_REPETITION_THRESHOLDS

    top_pivot = ",\n       ".join(
        f"SUM(CASE WHEN n = {n} THEN numer ELSE 0 END) AS top{n}"
        for n in (2, 3, 4)
    )
    dup_pivot = ",\n       ".join(
        f"SUM(CASE WHEN n = {n} THEN cov ELSE 0 END) AS dup{n}"
        for n in range(5, 11)
    )
    pairs = [
        ("dup_line_ppm", "dl", "nl"), ("dup_para_ppm", "dp", "np"),
        ("dup_line_char_ppm", "dlc", "cl"),
        ("dup_para_char_ppm", "dpc", "cp"),
        ("top2_char_ppm", "top2", "mass"),
        ("top3_char_ppm", "top3", "mass"),
        ("top4_char_ppm", "top4", "mass"),
    ] + [(f"dup{n}_char_ppm", f"dup{n}", "mass") for n in range(5, 11)]
    # DuckDB SUM(BIGINT) widens to HUGEINT (pandas float) — cast both
    # sides back down so the ppm stays an int64 like Spark's
    ppm_cols = ",\n       ".join(
        f"CASE WHEN {d} > 0 THEN "
        f"(CAST({x} AS BIGINT) * 1000000) // CAST({d} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END AS {name}"
        for name, x, d in pairs
    )
    keep = "\n        AND ".join(
        f"100 * {x} <= {GOPHER_REPETITION_THRESHOLDS[name]} * {d}"
        for name, x, d in pairs
    )
    return f"""
WITH s AS (
  SELECT doc_id,
         concat(
           regexp_replace(
             regexp_replace(text, '((\\S+ ){{20}}\\S+) ',
                            '\\1.' || chr(10) || chr(10), 'g'),
             '((\\S+ ){{6}}\\S+) ', '\\1.' || chr(10), 'g'),
           CASE WHEN doc_id % 11 = 0
                THEN chr(10) || 'repeat line marker five.'
                     || chr(10) || 'repeat line marker five.'
                ELSE '' END,
           CASE WHEN doc_id % 23 = 0
                THEN chr(10) || chr(10) || 'dup para block.'
                     || chr(10) || chr(10) || 'dup para block.'
                ELSE '' END
         ) AS t
  FROM documents
),
w AS (SELECT doc_id, t, string_split_regex(t, '\\s+') AS toks FROM s),
seg AS (
  SELECT doc_id,
     list_filter(string_split(t, chr(10)), x -> trim(x) != '') AS lines,
     list_filter(string_split(t, chr(10) || chr(10)),
                 x -> trim(x) != '') AS paras
  FROM s
),
segstats AS (
  SELECT doc_id,
    COALESCE(len(lines), 0) - COALESCE(len(list_distinct(lines)), 0) AS dl,
    COALESCE(len(lines), 0) AS nl,
    COALESCE(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0)
      - COALESCE(list_aggregate(
          list_transform(list_distinct(lines), x -> length(x)), 'sum'), 0)
      AS dlc,
    COALESCE(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0)
      AS cl,
    COALESCE(len(paras), 0) - COALESCE(len(list_distinct(paras)), 0) AS dp,
    COALESCE(len(paras), 0) AS np,
    COALESCE(list_aggregate(list_transform(paras, x -> length(x)), 'sum'), 0)
      - COALESCE(list_aggregate(
          list_transform(list_distinct(paras), x -> length(x)), 'sum'), 0)
      AS dpc,
    COALESCE(list_aggregate(list_transform(paras, x -> length(x)), 'sum'), 0)
      AS cp
  FROM seg
),
toklens AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS p,
         CAST(length(toks[i]) AS BIGINT) AS tlen
  FROM w, LATERAL UNNEST(range(1, len(toks) + 1)) AS u(i)
),
massq AS (SELECT doc_id, SUM(tlen) AS mass FROM toklens GROUP BY 1),
grams AS (
  SELECT doc_id, nn.n, CAST(i - 1 AS INT) AS pos,
         array_to_string(list_slice(toks, i, i + nn.n - 1), ' ') AS gram
  FROM w CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS nn(n),
       LATERAL UNNEST(range(1, len(toks) - nn.n + 2)) AS u(i)
  WHERE len(toks) >= nn.n
),
counts AS (
  SELECT doc_id, n, gram, COUNT(*) AS cnt,
         CAST(length(gram) - (n - 1) AS BIGINT) AS glen
  FROM grams GROUP BY doc_id, n, gram
),
topg AS (
  SELECT doc_id, n, cnt * glen AS numer
  FROM (SELECT doc_id, n, cnt, glen,
               ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                  ORDER BY cnt DESC, gram) AS rn
        FROM counts WHERE n IN (2, 3, 4))
  WHERE rn = 1
),
topq AS (SELECT doc_id, {top_pivot} FROM topg GROUP BY doc_id),
cov0 AS (
  SELECT DISTINCT g.doc_id, g.n, pp.p
  FROM grams g
  JOIN counts c ON g.doc_id = c.doc_id AND g.n = c.n AND g.gram = c.gram,
       LATERAL UNNEST(range(g.pos, g.pos + g.n)) AS pp(p)
  WHERE g.n >= 5 AND c.cnt >= 2
),
covs AS (
  SELECT c.doc_id, c.n, SUM(tl.tlen) AS cov
  FROM cov0 c JOIN toklens tl ON tl.doc_id = c.doc_id AND tl.p = c.p
  GROUP BY c.doc_id, c.n
),
dupq AS (SELECT doc_id, {dup_pivot} FROM covs GROUP BY doc_id),
a AS (
  SELECT ss.doc_id, ss.dl, ss.nl, ss.dlc, ss.cl, ss.dp, ss.np, ss.dpc,
         ss.cp,
         COALESCE(m.mass, 0) AS mass,
         COALESCE(topq.top2, 0) AS top2, COALESCE(topq.top3, 0) AS top3,
         COALESCE(topq.top4, 0) AS top4,
         COALESCE(dupq.dup5, 0) AS dup5, COALESCE(dupq.dup6, 0) AS dup6,
         COALESCE(dupq.dup7, 0) AS dup7, COALESCE(dupq.dup8, 0) AS dup8,
         COALESCE(dupq.dup9, 0) AS dup9, COALESCE(dupq.dup10, 0) AS dup10
  FROM segstats ss
  LEFT JOIN massq m USING (doc_id)
  LEFT JOIN topq USING (doc_id)
  LEFT JOIN dupq USING (doc_id)
)
SELECT doc_id,
       {ppm_cols},
       ({keep}) AS keep
FROM a
"""


SQL_GOPHER_REPETITION = _gopher_repetition_oracle()


def q_adaptive_cut(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language adaptive quality cut (sampling.adaptive_quality_cut,
    FineWeb/FineWeb-2 lineage — per-language thresholds, not one global
    cutoff): drop the bottom 30% of each language by n_chars (rank-
    based, ties by doc_id — pure integer logic, no quantile
    interpolation), keep the rest with their within-language rank."""
    d = load_table(spark, sf, "documents")
    return sampling.adaptive_quality_cut(d, drop_ppm=300_000).select(
        "doc_id", "lang", "n_chars", "grp_rank"
    )


SQL_ADAPTIVE_CUT = """
WITH r AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars NULLS FIRST, doc_id NULLS FIRST) AS grp_rank,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang, n_chars, CAST(grp_rank AS BIGINT) AS grp_rank
FROM r
WHERE grp_rank > (n * 300000) // 1000000
"""


def q_margin_align(spark: SparkSession, sf: str) -> DataFrame:
    """Margin-based parallel-pair mining (similarity.margin_align,
    Artetxe & Schwenk 2019 / CCMatrix): the embeddings table splits
    into two 'languages' by vec_id parity, with the X side bounded to
    ids < 100 (the q_ivf_topk query-set convention — keeps the pair
    matrix LINEAR in SF so the row benches sanely; the operator's own
    max_x guard covers unbounded callers); pairs are kept when
    mutually margin-best and above threshold 1.0. DECIMAL-exact
    cosines + rank-ordered k=4 neighborhood folds, so margins and the
    kept set replay bit-for-bit; output rounded to 9 places (the
    lsh_ann_exact convention)."""
    e = load_table(spark, sf, "embeddings")
    x = e.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 100))
    y = e.filter(F.col("vec_id") % 2 == 1)
    out = similarity.margin_align(
        x, y, k=4, margin_threshold=1.0, max_x=None
    )
    return _round9(out, "cos", "margin")


SQL_MARGIN_ALIGN = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (
  SELECT vec_id, v,
         sqrt(CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)) AS nrm
  FROM e, LATERAL UNNEST(v) AS t(x)
  GROUP BY vec_id, v
),
pairs AS (
  SELECT a.vec_id AS x_id, b.vec_id AS y_id,
         CAST(CAST(SUM(CAST(a.v[i] * b.v[i] AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
           / (a.nrm * b.nrm) AS cos
  FROM n a JOIN n b ON a.vec_id % 2 = 0 AND a.vec_id < 100 AND b.vec_id % 2 = 1,
       LATERAL UNNEST(range(1, {_EMB_DIM + 1})) AS t(i)
  GROUP BY a.vec_id, b.vec_id, a.nrm, b.nrm
),
rx AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY x_id ORDER BY cos DESC, y_id) AS r
  FROM pairs
),
ry AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY y_id ORDER BY cos DESC, x_id) AS r
  FROM pairs
),
ax AS (
  SELECT x_id, list_reduce(list(cos ORDER BY r), (a, b) -> a + b) / 4.0 AS avg_x
  FROM rx WHERE r <= 4 GROUP BY x_id
),
ay AS (
  SELECT y_id, list_reduce(list(cos ORDER BY r), (a, b) -> a + b) / 4.0 AS avg_y
  FROM ry WHERE r <= 4 GROUP BY y_id
),
scored AS (
  SELECT p.x_id, p.y_id, p.cos,
         p.cos / ((ax.avg_x + ay.avg_y) / 2.0) AS margin
  FROM pairs p JOIN ax USING (x_id) JOIN ay USING (y_id)
),
best AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS bx,
         ROW_NUMBER() OVER (PARTITION BY y_id ORDER BY margin DESC, x_id) AS b_y
  FROM scored
)
SELECT x_id, y_id, ROUND(cos, 9) AS cos, ROUND(margin, 9) AS margin
FROM best
WHERE bx = 1 AND b_y = 1 AND margin >= 1.0
"""


def q_margin_align_prod(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION margin-alignment tier (similarity.margin_align_ann
    — IVF candidate generation + float dots feeding the unchanged
    margin/mutual-best rule), driver-attested via an in-query
    agreement contract against the DECIMAL-exact margin_align tier
    (the semantic_dedup_prod pattern, r14 VERDICT task 3): this is
    the spelling whose pair stage is bucketed by inverted list at
    100 TB (candidate volume ~|X| * |Y| * nprobe / n_lists), never
    the exact tier's |X| x |Y| matrix.

    Output (one row): n_exact is the exact tier's kept-pair count,
    which the oracle recomputes independently through the identical
    DECIMAL CTE chain; agree_ok asserts the production tier re-finds
    >= 50% of the exact tier's kept PAIRS (measured 81% at sf0.001,
    90% at sf0.01 with candidates_per_x=32/nprobe=6 — 1.6x margin;
    mutual-best argmax on the synthetic near-equidistant noise
    embeddings is the WORST case, since candidate-truncated avg_k
    neighborhoods shift margins enough to flip winners: the measured
    decomposition is 80-85% candidate recall and **100%**
    float-exhaustive rule agreement, i.e. every disagreement is
    candidate truncation, none is margin arithmetic); size_ok asserts
    the production pair count is within +-50% of exact (measured
    0.96-1.0x). A broken production tier — wrong probe routing,
    candidate starvation, margin arithmetic drift — collapses pair
    agreement and flips the hash red."""
    e = load_table(spark, sf, "embeddings")
    x = e.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 100))
    y = e.filter(F.col("vec_id") % 2 == 1)
    # localCheckpoint (lazy, r16): each tier's kept pairs feed BOTH the
    # agreement intersection and its own count aggregate — without it
    # the whole tier (the DECIMAL pair matrix / the IVF probe chain)
    # runs once per consumer (guide §2.4; the r16 plan audit showed 24
    # embedding scans, `tools/dump_plans.py` regenerates it). Kept sets are pair-id-sized; recomputed per invocation.
    exact = similarity.margin_align(
        x, y, k=4, margin_threshold=1.0, max_x=None
    ).select("x_id", "y_id").transform(lazy_checkpoint)
    prod = similarity.margin_align_ann(
        x, y, k=4, margin_threshold=1.0, n_lists=8, nprobe=6,
        candidates_per_x=32,
    ).select("x_id", "y_id").transform(lazy_checkpoint)
    inter = exact.join(prod, ["x_id", "y_id"])
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(F.broadcast(prod.agg(F.count(F.lit(1)).alias("__n_prod"))))
        .crossJoin(
            F.broadcast(inter.agg(F.count(F.lit(1)).alias("__n_inter")))
        )
    )
    return stats.select(
        "n_exact",
        (F.col("__n_inter") * 2 >= F.col("n_exact")).alias("agree_ok"),
        (
            (F.col("__n_prod") * 2 >= F.col("n_exact"))
            & (F.col("__n_prod") * 2 <= F.col("n_exact") * 3)
        ).alias("size_ok"),
    )


# the oracle recomputes the EXACT tier's kept-pair count via the same
# DECIMAL CTE chain as SQL_MARGIN_ALIGN and asserts the agreement
# booleans (TRUE literals, the SQL_ANN_RECALL convention)
_MARGIN_TAIL = """SELECT x_id, y_id, ROUND(cos, 9) AS cos, ROUND(margin, 9) AS margin
FROM best
WHERE bx = 1 AND b_y = 1 AND margin >= 1.0
"""
assert _MARGIN_TAIL in SQL_MARGIN_ALIGN  # keep the derivation honest
SQL_MARGIN_ALIGN_PROD = SQL_MARGIN_ALIGN.replace(
    _MARGIN_TAIL,
    """SELECT COUNT(*) AS n_exact, TRUE AS agree_ok, TRUE AS size_ok
FROM best
WHERE bx = 1 AND b_y = 1 AND margin >= 1.0
""",
)


def q_bestfit_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Best-fit-decreasing packing (curation.bestfit_pack, Ding et
    al. 2024 "Fewer Truncations"): whole-document bin assignment,
    longest-first, smallest-fitting-residual bin wins — sharded by
    content hash so the greedy runs distributed. capacity=256 makes
    the synthetic docs (10-99 tokens) pack 3-6 per bin, so the
    best-fit CHOICE is exercised, not just bin-opening. The oracle
    replays the per-shard fold with a recursive CTE over a residual
    LIST — every step is integer arithmetic, bit-replayable."""
    d = load_table(spark, sf, "documents")
    return curation.bestfit_pack(d, capacity=256, n_shards=16)


SQL_BESTFIT_PACK = f"""
WITH RECURSIVE
t AS (
  SELECT doc_id,
         CAST(coalesce(len(string_split_regex(trim(text), '\\s+')), 0) AS BIGINT) AS n_tokens,
         CAST({_hash16_sql('doc_id', 'bfd')} % 16 AS INT) AS shard
  FROM documents
),
ordd AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n_tokens DESC, doc_id) AS rn
  FROM t
),
st AS (
  SELECT shard, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS resid,
         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens,
         CAST(NULL AS INT) AS bin
  FROM (SELECT DISTINCT shard FROM ordd)
  UNION ALL
  SELECT o.shard, o.rn,
         CASE WHEN list_min(list_filter(p.resid, r -> r >= o.n_tokens)) IS NULL
              THEN list_append(p.resid, 256 - o.n_tokens)
              ELSE list_transform(range(1, len(p.resid) + 1),
                     i -> CASE WHEN i = list_position(p.resid,
                              list_min(list_filter(p.resid, r -> r >= o.n_tokens)))
                          THEN p.resid[i] - o.n_tokens ELSE p.resid[i] END)
         END,
         o.doc_id, o.n_tokens,
         CASE WHEN list_min(list_filter(p.resid, r -> r >= o.n_tokens)) IS NULL
              THEN len(p.resid)
              ELSE list_position(p.resid,
                     list_min(list_filter(p.resid, r -> r >= o.n_tokens))) - 1
         END
  FROM st p JOIN ordd o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, n_tokens, shard, CAST(bin AS INT) AS bin,
       n_tokens > 256 AS oversize
FROM st WHERE rn >= 1
"""


def q_unicode_nfc(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode NFC normalization (curation.unicode_nfc, UAX #15). The
    synthetic corpus is ASCII (NFC would be a no-op), so the query
    decorates documents with doc_id-keyed NFC-ACTIVE sequences — a
    decomposed accent (e + U+0301), the U+212B Angstrom singleton,
    Hangul jamo (L+V+T), a combining ring (A + U+030A) — the
    gopher_repetition structured-injection idiom. Both engines build
    the identical decorated input and normalize it; nfc_text, the
    changed flag, and the codepoint deltas all hash-compare, so a
    composition-table disagreement or a kernel bug flips the row red."""
    d = load_table(spark, sf, "documents")
    # escape-spelled DECOMPOSED forms (a raw composed glyph here would
    # silently desynchronize the decoration from the oracle's chr()
    # build if any tool NFC-normalizes the source file)
    deco = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" cafe\u0301")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" \u212Bngstrom")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit(" \u1100\u1161\u11A8")
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0, F.lit(" A\u030Arhus")).otherwise(
            F.lit("")
        ),
    )
    return curation.unicode_nfc(d.withColumn("text", deco))


SQL_UNICODE_NFC = """
WITH dec AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' caf' || 'e' || chr(769) ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' ' || chr(8491) || 'ngstrom' ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' ' || chr(4352) || chr(4449) || chr(4520) ELSE '' END
         || CASE WHEN doc_id % 17 = 0
                 THEN ' A' || chr(778) || 'rhus' ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       nfc_normalize(t) AS nfc_text,
       nfc_normalize(t) != t AS changed,
       CAST(length(t) AS INT) AS n_cp_before,
       CAST(length(nfc_normalize(t)) AS INT) AS n_cp_after
FROM dec
"""


def q_refinedweb_lines(spark: SparkSession, sf: str) -> DataFrame:
    """RefinedWeb line-wise corrections (curation.refinedweb_lines,
    Penedo et al. 2023 §3.1.3 + G.2): social-media counters,
    all-caps headers, bare numbers and one-word stubs removed
    line-by-line; doc dropped when the removed mass tops 5% of its
    chars. Line structure + offender lines are synthesized
    deterministically on doc_id mods (the c4_filter fixture
    convention). One codegen projection, zero shuffles."""
    d = load_table(spark, sf, "documents")
    structured = F.concat(
        F.regexp_replace(F.col("text"), r"((\S+ ){6}\S+) ", "$1.\n"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("\n42 likes"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 9 == 0, F.lit("\nNAV HEADER BLOCK"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit("\n2024"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0, F.lit("\nHome"))
        .otherwise(F.lit("")),
    )
    return curation.refinedweb_lines(d.withColumn("text", structured))


def _refinedweb_lines_oracle() -> str:
    from cubert_spark.datapipe.curation import REFINEDWEB_COUNTER_WORDS

    alt = "|".join(REFINEDWEB_COUNTER_WORDS)
    removed = (
        "(length(regexp_replace(trim(x), '[^A-Za-z]', '', 'g')) >= 1 "
        " AND 2 * length(regexp_replace(trim(x), '[^A-Z]', '', 'g'))"
        "     > length(regexp_replace(trim(x), '[^A-Za-z]', '', 'g')))"
        " OR regexp_matches(regexp_replace(trim(x), ' ', '', 'g'),"
        "                   '^[0-9]+$')"
        f" OR regexp_matches(lower(trim(x)), '^[0-9]+ ({alt})$')"
        " OR NOT contains(trim(x), ' ')"
    )
    return f"""
WITH s AS (
  SELECT doc_id,
         concat(
           regexp_replace(text, '((\\S+ ){{6}}\\S+) ',
                          '\\1.' || chr(10), 'g'),
           CASE WHEN doc_id % 5 = 0 THEN chr(10) || '42 likes'
                ELSE '' END,
           CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'NAV HEADER BLOCK'
                ELSE '' END,
           CASE WHEN doc_id % 13 = 0 THEN chr(10) || '2024'
                ELSE '' END,
           CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'Home'
                ELSE '' END
         ) AS t
  FROM documents
), f AS (
  SELECT doc_id,
         list_filter(string_split(t, chr(10)), x -> trim(x) != '')
           AS lines
  FROM s
), g AS (
  SELECT doc_id, lines,
         list_filter(lines, x -> NOT ({removed})) AS kept,
         list_filter(lines, x -> ({removed})) AS gone
  FROM f
), h AS (
  SELECT doc_id,
         CAST(COALESCE(len(lines), 0) AS BIGINT) AS n_lines,
         CAST(COALESCE(len(gone), 0) AS BIGINT) AS n_removed,
         CAST(COALESCE(list_aggregate(
           list_transform(gone, x -> length(x)), 'sum'), 0) AS BIGINT)
           AS rc,
         CAST(COALESCE(list_aggregate(
           list_transform(lines, x -> length(x)), 'sum'), 0) AS BIGINT)
           AS tc,
         COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
         COALESCE(len(kept), 0) AS n_kept
  FROM g
)
SELECT doc_id, n_lines, n_removed,
       CASE WHEN tc > 0 THEN (rc * 1000000) // tc
            ELSE CAST(0 AS BIGINT) END AS removed_char_ppm,
       clean_text,
       (100 * rc <= 5 * tc AND n_kept >= 1) AS keep
FROM h
"""


SQL_REFINEDWEB_LINES = _refinedweb_lines_oracle()


def q_chat_assembly(spark: SparkSession, sf: str) -> DataFrame:
    """SFT conversation assembly (curation.chat_assembly — ChatML
    render + keep-recent-suffix token budget, the instruction-tuning
    data-prep stage): documents fold into 4-turn conversations
    (conv_id = doc_id div 4, alternating user/assistant roles) with a
    150-token budget, so suffix truncation and the always-keep-newest
    rule are both exercised on real rows."""
    from cubert_spark.datapipe.curation import chat_assembly

    d = load_table(spark, sf, "documents").select(
        (F.col("doc_id") / 4).cast("bigint").alias("conv_id"),
        (F.col("doc_id") % 4).alias("turn"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "text",
    )
    return chat_assembly(d, max_tokens=150)


SQL_CHAT_ASSEMBLY = """
WITH t AS (SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn,
                  CASE WHEN doc_id % 2 = 0 THEN 'user'
                       ELSE 'assistant' END AS role,
                  text,
                  CAST(COALESCE(len(string_split_regex(trim(text), '\\s+')),
                                0) AS BIGINT) AS tok
           FROM documents),
r AS (SELECT conv_id, turn,
             '<|im_start|>' || role || chr(10) || text || '<|im_end|>' AS rr,
             tok,
             CAST(SUM(tok) OVER (PARTITION BY conv_id ORDER BY turn DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS revcum,
             ROW_NUMBER() OVER (PARTITION BY conv_id
                                ORDER BY turn DESC) AS rnd
      FROM t),
tot AS (SELECT conv_id, COUNT(*) AS n_turns_total FROM t GROUP BY 1),
k AS (SELECT * FROM r WHERE revcum <= 150 OR rnd = 1),
a AS (SELECT conv_id, COUNT(*) AS n_turns_kept,
             CAST(SUM(tok) AS BIGINT) AS n_tokens_kept,
             string_agg(rr, chr(10) ORDER BY turn) AS text
      FROM k GROUP BY 1)
SELECT tot.conv_id, n_turns_total, n_turns_kept, n_tokens_kept, a.text,
       (n_turns_kept < n_turns_total OR n_tokens_kept > 150) AS truncated
FROM tot JOIN a ON tot.conv_id = a.conv_id
"""



def q_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve (textstats.vocab_growth):
    cumulative token and distinct-token counts per 100-document
    prefix — the tokenizer/vocab-sizing and crawl-saturation
    diagnostic. First-occurrence spelling: no cumulative-distinct
    scan anywhere; the running sum sees only bucket rows."""
    d = load_table(spark, sf, "documents")
    return textstats.vocab_growth(d, bucket_docs=100)


SQL_VOCAB_GROWTH = """
WITH tok AS (
  SELECT doc_id, t.tok FROM documents,
       LATERAL UNNEST(string_split_regex(text, '\\s+')) AS t(tok)
),
occ AS (SELECT doc_id // 100 AS bucket, COUNT(*) AS n_tok
        FROM tok GROUP BY 1),
fr AS (SELECT MIN(doc_id) AS fid FROM tok GROUP BY tok),
nw AS (SELECT fid // 100 AS bucket, COUNT(*) AS n_new FROM fr GROUP BY 1)
SELECT occ.bucket,
       CAST(SUM(n_tok) OVER (ORDER BY occ.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY occ.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM occ LEFT JOIN nw USING (bucket)
"""



#: code_detect decoration snippets (ASCII, quote-free so the SQL
#: literal embeds verbatim) — planted so BOTH branches of the rule
#: and all four language argmaxes are exercised on the prose corpus.
_CODE_SNIPPETS = {
    0: "\ndef f(x):\n  import os\n  v = {1: 2};\n  w = {3: 4};\n  return v;",
    1: "\nconst f = (x) => { return x; }; var y = f(1); var z = y;;",
    2: "\npublic static void main() { new X(); int y = 1; y += 2; }",
    3: "\n#include <stdio.h>\nint main() { int* p = x->y; printf(s); malloc(4); return 0; };;",
}


def q_code_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Code-vs-prose routing (textstats.code_detect, The Stack /
    StarCoder lineage): docs with doc_id % 11 in 0..3 get a planted
    language-marked code snippet (the unicode_nfc injection idiom —
    the synthetic corpus is pure prose), so the integer density rule
    flips is_code on exactly the planted docs that stay under the
    1% structural-signal density bound, and the keyword argmax must
    recover each planted language."""
    from cubert_spark.datapipe.textstats import code_detect

    d = load_table(spark, sf, "documents")
    deco = F.concat(
        F.col("text"),
        *[
            F.when(F.col("doc_id") % 11 == k, F.lit(sn)).otherwise(F.lit(""))
            for k, sn in _CODE_SNIPPETS.items()
        ],
    )
    return code_detect(d.select("doc_id", deco.alias("text")))


def _code_detect_oracle() -> str:
    from cubert_spark.datapipe.textstats import (
        CODE_LANG_PATTERNS,
        CODE_STRUCT_PATTERNS,
    )

    sn = {
        k: v.replace("\n", chr(10)) for k, v in _CODE_SNIPPETS.items()
    }
    deco = " || ".join(
        f"(CASE WHEN doc_id % 11 = {k} THEN '{v}' ELSE '' END)"
        for k, v in sn.items()
    )

    def n(pat: str) -> str:
        return f"LEN(regexp_extract_all(dtext, '{pat}'))"

    c = {name: n(p) for name, p in CODE_STRUCT_PATTERNS.items()}
    l = {name: n(p) for name, p in CODE_LANG_PATTERNS.items()}
    s = f"({c['n_braces']} + {c['n_semis']} + {c['n_indent_lines']})"
    is_code = f"({s} * 1000 >= 10 * LEN(dtext) AND {s} >= 5)"
    lang = (
        f"CASE WHEN {l['python']} + {l['js']} + {l['java']} + {l['c']} = 0 "
        "THEN NULL "
        f"WHEN {l['python']} >= {l['js']} AND {l['python']} >= {l['java']} "
        f"AND {l['python']} >= {l['c']} THEN 'python' "
        f"WHEN {l['js']} >= {l['java']} AND {l['js']} >= {l['c']} THEN 'js' "
        f"WHEN {l['java']} >= {l['c']} THEN 'java' ELSE 'c' END"
    )
    return f"""
WITH d AS (SELECT doc_id, text || {deco} AS dtext FROM documents)
SELECT doc_id,
       CAST({c['n_braces']} AS INT) AS n_braces,
       CAST({c['n_semis']} AS INT) AS n_semis,
       CAST({c['n_indent_lines']} AS INT) AS n_indent_lines,
       {is_code} AS is_code,
       CASE WHEN {is_code} THEN {lang} ELSE NULL END AS code_lang
FROM d
"""


SQL_CODE_DETECT = _code_detect_oracle()



def q_kneser_ney_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model BUILD (datapipe.lm.
    kneser_ney_lm — the KenLM smoothing; Kneser & Ney 1995, Chen &
    Goodman 1998): the full model table over the corpus vocabulary
    (bounded: the synthetic vocab is ~31 words at every SF, so the
    output is the model, not the corpus). Every probability is a
    composition of correctly-rounded IEEE ops on exact bigint counts
    — bit-identical cross-engine, no rounding."""
    from cubert_spark.datapipe.lm import kneser_ney_lm

    d = load_table(spark, sf, "documents")
    return kneser_ney_lm(d)


SQL_KNESER_NEY_LM = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (SELECT ws[i] AS v, ws[i + 1] AS w
       FROM tk, LATERAL UNNEST(range(1, len(ws))) AS t(i)
       WHERE len(ws) >= 2),
bgc AS (SELECT v, w, COUNT(*) AS c_vw FROM bg GROUP BY 1, 2),
ctx AS (SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v, COUNT(*) AS n1p_v
        FROM bgc GROUP BY 1),
cont AS (SELECT w, COUNT(*) AS n1p_w FROM bgc GROUP BY 1),
nb AS (SELECT COUNT(*) AS n_bi FROM bgc)
SELECT v, w, c_vw,
       CAST(4 * c_vw - 3 AS DOUBLE) / CAST(4 * c_v AS DOUBLE)
         + (CAST(3 * n1p_v AS DOUBLE) / CAST(4 * c_v AS DOUBLE))
           * (CAST(n1p_w AS DOUBLE) / CAST(n_bi AS DOUBLE)) AS prob,
       CAST(3 * n1p_v AS DOUBLE) / CAST(4 * c_v AS DOUBLE) AS lambda_v,
       CAST(n1p_w AS DOUBLE) / CAST(n_bi AS DOUBLE) AS pcont_w
FROM bgc JOIN ctx USING (v) JOIN cont USING (w) CROSS JOIN nb
"""


def q_kneser_ney_trigram(spark: SparkSession, sf: str) -> DataFrame:
    """Order-3 RECURSIVE interpolated Kneser-Ney build (datapipe.lm.
    kneser_ney_lm(order=3) — r15 VERDICT task 5; KenLM's standard
    filter model is a 5-gram and this is the order-parameterized
    recursion at the first order that exercises it: raw counts at the
    top, continuation counts N1+(.g) at the middle level, p_cont at
    the bottom). Every term is a single correctly-rounded divide of
    exact bigint counts and the interpolation is a fixed IEEE
    multiply/add tree — bit-identical cross-engine, no rounding."""
    from cubert_spark.datapipe.lm import kneser_ney_lm

    d = load_table(spark, sf, "documents")
    return kneser_ney_lm(d, order=3)


SQL_KNESER_NEY_TRIGRAM = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
       FROM tk, LATERAL UNNEST(range(1, len(ws) - 1)) AS t(i)
       WHERE len(ws) >= 3),
a3 AS (SELECT w1, w2, w3, COUNT(*) AS c FROM tg GROUP BY 1, 2, 3),
bgr AS (SELECT ws[i] AS v, ws[i + 1] AS w
        FROM tk, LATERAL UNNEST(range(1, len(ws))) AS t(i)
        WHERE len(ws) >= 2),
a2 AS (SELECT v, w, COUNT(*) AS c2 FROM bgr GROUP BY 1, 2),
ctx3 AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS den_n,
                COUNT(*) AS typ_n
         FROM a3 GROUP BY 1, 2),
ck2 AS (SELECT w2 AS v, w3 AS w, COUNT(*) AS nc2 FROM a3 GROUP BY 1, 2),
d2 AS (SELECT v, CAST(SUM(nc2) AS BIGINT) AS den2, COUNT(*) AS typ2
       FROM ck2 GROUP BY 1),
c1 AS (SELECT w, COUNT(*) AS nc1 FROM a2 GROUP BY 1),
nb AS (SELECT COUNT(*) AS n_bi FROM a2)
SELECT a3.w1, a3.w2, a3.w3, a3.c,
       CAST(4 * a3.c - 3 AS DOUBLE) / CAST(4 * den_n AS DOUBLE)
         + (CAST(3 * typ_n AS DOUBLE) / CAST(4 * den_n AS DOUBLE))
           * (CAST(4 * nc2 - 3 AS DOUBLE) / CAST(4 * den2 AS DOUBLE)
              + (CAST(3 * typ2 AS DOUBLE) / CAST(4 * den2 AS DOUBLE))
                * (CAST(nc1 AS DOUBLE) / CAST(n_bi AS DOUBLE))) AS prob,
       CAST(3 * typ_n AS DOUBLE) / CAST(4 * den_n AS DOUBLE) AS lambda_top,
       CAST(4 * nc2 - 3 AS DOUBLE) / CAST(4 * den2 AS DOUBLE)
         + (CAST(3 * typ2 AS DOUBLE) / CAST(4 * den2 AS DOUBLE))
           * (CAST(nc1 AS DOUBLE) / CAST(n_bi AS DOUBLE)) AS p_backoff
FROM a3
JOIN ctx3 ON ctx3.w1 = a3.w1 AND ctx3.w2 = a3.w2
JOIN ck2 ON ck2.v = a3.w2 AND ck2.w = a3.w3
JOIN d2 ON d2.v = a3.w2
JOIN c1 ON c1.w = a3.w3
CROSS JOIN nb
"""


def q_linear_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic in-engine training (datapipe.probe.
    linear_probe_train): a least-squares linear probe predicting
    lang='en' from two scaled corpus features (n_chars/1000,
    tokens/100), fitted by 3 full-batch GD epochs at lr=1/8. Each
    epoch's gradient is a sorted two-level float fold (fixed-order
    IEEE adds — see probe.py's module doc for why a DECIMAL cast is
    unsound for arbitrary doubles); every
    scalar step is correctly-rounded IEEE — the weight TRAJECTORY
    (not just the final fit) hash-matches the oracle's unrolled
    3-epoch CTE replay, which is the whole point: a quality-filter
    model retrained on the same corpus must come out bit-identical."""
    from cubert_spark.datapipe.probe import linear_probe_train

    d = load_table(spark, sf, "documents").select(
        "doc_id",
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("x1"),
        (
            F.size(F.split(F.col("text"), " ")).cast("double")
            / F.lit(100.0)
        ).alias("x2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    return linear_probe_train(d, ["x1", "x2"], "y", id_col="doc_id", epochs=3)


def _probe_epoch_sql(n: int) -> tuple[str, str]:
    """(gradient CTE pair, weight CTE) for epoch n of the 3-epoch
    replay — mirrors linear_probe_train's arithmetic exactly: every
    cross-row sum is the sorted two-level float fold (per-shard
    list_reduce in doc_id order, then shard sums in shard order — the
    bm25/margin_align fixed-order-fold equivalence), and the scalar
    update is 0.125 * ((2 * g) / n)."""

    def fold(expr: str, order: str, alias: str) -> str:
        return (
            f"list_reduce(list(CAST(({expr}) AS DOUBLE) ORDER BY {order}), "
            f"(a, b) -> a + b) AS {alias}"
        )

    if n == 1:
        r = "(0.0 + 0.0 * x1 + 0.0 * x2 - y)"
        src = "f"
        wsrc = f"e{n}"
        pw = ("0.0", "0.0", "0.0")
    else:
        r = "(w0 + w1 * x1 + w2 * x2 - y)"
        src = f"f CROSS JOIN w{n - 1}"
        wsrc = f"e{n} CROSS JOIN w{n - 1} p"
        pw = ("p.w0", "p.w1", "p.w2")
    lvl1 = (
        f"e{n}s AS (SELECT doc_id % 256 AS s, "
        + ", ".join(
            [
                fold(r, "doc_id", "g0"),
                fold(f"{r} * x1", "doc_id", "g1"),
                fold(f"{r} * x2", "doc_id", "g2"),
                fold(f"{r} * {r}", "doc_id", "sse"),
            ]
        )
        + f", COUNT(*) AS ns FROM {src} GROUP BY 1)"
    )
    lvl2 = (
        f"e{n} AS (SELECT "
        + ", ".join(fold(a, "s", a) for a in ("g0", "g1", "g2", "sse"))
        + f", CAST(SUM(ns) AS BIGINT) AS n FROM e{n}s)"
    )
    upd = ", ".join(
        f"{pw[j]} - 0.125 * ((2.0 * g{j}) / CAST(n AS DOUBLE)) AS w{j}"
        for j in range(3)
    )
    weight = (
        f"w{n} AS (SELECT {upd}, sse / CAST(n AS DOUBLE) AS mse FROM {wsrc})"
    )
    return f"{lvl1},\n{lvl2}", weight


SQL_LINEAR_PROBE = (
    """
WITH f AS (SELECT doc_id,
                  CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
                  CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
                  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
           FROM documents),
"""
    + ",\n".join(
        part for k in (1, 2, 3) for part in _probe_epoch_sql(k)
    )
    + """
SELECT 1 AS epoch, w0, w1 AS w_x1, w2 AS w_x2, mse FROM w1
UNION ALL SELECT 2, w0, w1, w2, mse FROM w2
UNION ALL SELECT 3, w0, w1, w2, mse FROM w3
"""
)


def q_logistic_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic in-engine CLASSIFIER training (datapipe.probe.
    logistic_probe_train — r15 VERDICT task 6, the fastText-style
    quality-classifier shape): logistic-loss full-batch GD predicting
    lang='en' from the same two scaled corpus features as
    linear_probe, 3 epochs at lr=1/8. The sigmoid is fastText's
    512-bin precomputed table (clip |z|>=8) embedded as literals in
    BOTH engines, so no libm exp() is ever evaluated; gradients are
    sorted two-level float folds and the per-epoch metric is the
    Brier score (multiply/add only) — the whole weight trajectory
    hash-matches the oracle's unrolled 3-epoch CTE replay."""
    from cubert_spark.datapipe.probe import logistic_probe_train

    d = load_table(spark, sf, "documents").select(
        "doc_id",
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("x1"),
        (
            F.size(F.split(F.col("text"), " ")).cast("double")
            / F.lit(100.0)
        ).alias("x2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    return logistic_probe_train(d, ["x1", "x2"], "y")


def _logistic_epoch_sql(n: int) -> tuple[str, str]:
    """(epoch CTE chain, weight CTE) for epoch n of the logistic
    replay — mirrors logistic_probe_train exactly: z from the
    previous weights, p via the shared literal sigmoid table (the
    ``sig`` CTE), folds of (p-y)-weighted terms, update
    w - 0.125 * (g / n)."""

    def fold(expr: str, order: str, alias: str) -> str:
        return (
            f"list_reduce(list(CAST(({expr}) AS DOUBLE) ORDER BY {order}), "
            f"(a, b) -> a + b) AS {alias}"
        )

    if n == 1:
        z = "(0.0 + 0.0 * x1 + 0.0 * x2)"
        src = "f"
        wsrc = f"e{n}"
        pw = ("0.0", "0.0", "0.0")
    else:
        z = "(w0 + w1 * x1 + w2 * x2)"
        src = f"f CROSS JOIN w{n - 1}"
        wsrc = f"e{n} CROSS JOIN w{n - 1} p"
        pw = ("p.w0", "p.w1", "p.w2")
    chain = (
        f"e{n}z AS (SELECT doc_id, x1, x2, y, {z} AS z FROM {src}),\n"
        f"e{n}p AS (SELECT doc_id, x1, x2, y, "
        "CASE WHEN z <= -8.0 THEN 0.0 WHEN z >= 8.0 THEN 1.0 "
        "ELSE sig.v END AS p "
        f"FROM e{n}z LEFT JOIN sig ON sig.i = "
        "LEAST(512, GREATEST(0, CAST(FLOOR((z + 8.0) * 32.0) AS INT)))),\n"
        f"e{n}s AS (SELECT doc_id % 256 AS s, "
        + ", ".join(
            [
                fold("(p - y)", "doc_id", "g0"),
                fold("(p - y) * x1", "doc_id", "g1"),
                fold("(p - y) * x2", "doc_id", "g2"),
                fold("(p - y) * (p - y)", "doc_id", "se"),
            ]
        )
        + f", COUNT(*) AS ns FROM e{n}p GROUP BY 1),\n"
        f"e{n} AS (SELECT "
        + ", ".join(fold(a, "s", a) for a in ("g0", "g1", "g2", "se"))
        + f", CAST(SUM(ns) AS BIGINT) AS n FROM e{n}s)"
    )
    upd = ", ".join(
        f"{pw[j]} - 0.125 * (g{j} / CAST(n AS DOUBLE)) AS w{j}"
        for j in range(3)
    )
    weight = (
        f"w{n} AS (SELECT {upd}, se / CAST(n AS DOUBLE) AS brier "
        f"FROM {wsrc})"
    )
    return chain, weight


def _logistic_probe_oracle() -> str:
    from cubert_spark.datapipe.probe import sigmoid_table

    values = ", ".join(
        f"({i}, '{v!r}')" for i, v in enumerate(sigmoid_table())
    )
    return (
        """
WITH f AS (SELECT doc_id,
                  CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
                  CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x2,
                  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
           FROM documents),
"""
        # literals ride as STRINGS and cast VARCHAR->DOUBLE: a bare
        # decimal literal parses as DECIMAL (whose multiplies blow the
        # 38-digit scale) and DuckDB's DECIMAL->DOUBLE cast is NOT
        # correctly rounded (measured 1-ulp drift: int128/10^scale in
        # float arithmetic), while its string->double parser IS —
        # so only the quoted spelling lands the bit-identical table
        + "sig AS (SELECT i, CAST(v AS DOUBLE) AS v "
        + f"FROM (VALUES {values}) AS t(i, v)),\n"
        + ",\n".join(
            part for k in (1, 2, 3) for part in _logistic_epoch_sql(k)
        )
        + """
SELECT 1 AS epoch, w0, w1 AS w_x1, w2 AS w_x2, brier FROM w1
UNION ALL SELECT 2, w0, w1, w2, brier FROM w2
UNION ALL SELECT 3, w0, w1, w2, brier FROM w3
"""
    )


SQL_LOGISTIC_PROBE = _logistic_probe_oracle()


def q_ict_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Inverse Cloze Task pairs (curation.ict_pairs — Lee et al. 2019
    retriever pretraining): 12-token pseudo-sentences, content-hash
    query pick, 1-in-10 keep-in-context rule; docs with < 2
    pseudo-sentences absent. Pure codegen projection — zero joins,
    zero shuffles."""
    from cubert_spark.datapipe.curation import ict_pairs

    return ict_pairs(load_table(spark, sf, "documents"))


SQL_ICT_PAIRS = f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
st AS (SELECT doc_id, ws, CAST((len(ws) + 11) // 12 AS INT) AS n_sent
       FROM tk),
hx AS (SELECT doc_id, ws, n_sent,
              CAST({_hash16_sql('doc_id', 'ict')} % n_sent AS INT)
                  AS query_idx,
              ({_hash16_sql('doc_id', 'ict:keep')} % 10 = 0)
                  AS kept_in_context
       FROM st WHERE n_sent >= 2),
sg AS (SELECT doc_id, n_sent, query_idx, kept_in_context,
              list_transform(range(0, n_sent),
                  i -> array_to_string(ws[i * 12 + 1 : i * 12 + 12], ' '))
                  AS s
       FROM hx)
SELECT doc_id, n_sent, query_idx, kept_in_context,
       s[query_idx + 1] AS query,
       array_to_string(list_filter(s,
           (x, i) -> (i - 1) <> query_idx OR kept_in_context), ' ')
           AS context
FROM sg
"""


def q_bitext_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Bitext hard rules (curation.bitext_filter — Bicleaner
    hardrules / WMT corpus-filtering lineage) on doc_id-keyed
    decorated pairs (the injection idiom; the synthetic corpus has no
    parallel text): branch 0 plants an identical pair, branch 1 a
    3-token runt (short + ratio fail), branch 2 a digit-mismatched
    pair, every other branch a token-reversed 'translation' that
    passes all rules."""
    from cubert_spark.datapipe.curation import bitext_filter

    d = load_table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    b = F.col("doc_id") % 12
    tgt = (
        F.when(b == 0, F.col("text"))
        .when(b == 1, F.array_join(F.slice(toks, 1, 3), " "))
        .when(
            b == 2,
            F.concat(
                F.array_join(F.reverse(toks), " "), F.lit(" 4242")
            ),
        )
        .otherwise(F.array_join(F.reverse(toks), " "))
    )
    pairs = d.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("src_text"),
        tgt.alias("tgt_text"),
    )
    return bitext_filter(pairs)


SQL_BITEXT_FILTER = """
WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS ws
            FROM documents),
pr AS (SELECT doc_id AS pair_id, text AS src_text,
              CASE WHEN doc_id % 12 = 0 THEN text
                   WHEN doc_id % 12 = 1
                       THEN array_to_string(ws[1:3], ' ')
                   WHEN doc_id % 12 = 2
                       THEN array_to_string(list_reverse(ws), ' ')
                            || ' 4242'
                   ELSE array_to_string(list_reverse(ws), ' ')
              END AS tgt_text
       FROM tk),
nn AS (SELECT pair_id, src_text, tgt_text,
              CAST(len(string_split(src_text, ' ')) AS BIGINT) AS n_src,
              CAST(len(string_split(tgt_text, ' ')) AS BIGINT) AS n_tgt
       FROM pr),
fl AS (SELECT pair_id, n_src, n_tgt,
              (lower(src_text) = lower(tgt_text)) AS identical,
              (n_src < 4 OR n_tgt < 4) AS too_short,
              (GREATEST(n_src, n_tgt) <= 2 * LEAST(n_src, n_tgt))
                  AS ratio_ok,
              (regexp_replace(src_text, '[^0-9]', '', 'g')
               = regexp_replace(tgt_text, '[^0-9]', '', 'g')) AS digit_ok
       FROM nn)
SELECT pair_id, n_src, n_tgt, identical, too_short, ratio_ok, digit_ok,
       (NOT identical AND NOT too_short AND ratio_ok AND digit_ok)
           AS "pass"
FROM fl
"""


def _decorated_urls(spark: SparkSession, sf: str) -> DataFrame:
    """documents decorated with a doc_id-keyed messy URL (the
    unicode_nfc structured-injection idiom — the synthetic corpus has
    no url column, so BOTH engines build the identical one): mixed
    scheme/host case, default and explicit ports, duplicate path
    slashes, trailing slashes, tracking params, fragments."""
    d = load_table(spark, sf, "documents")
    i = F.col("doc_id")
    s = lambda m: (i % m).cast("string")  # noqa: E731
    url = F.concat(
        F.when(i % 3 == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
        F.lit("WWW.Site"), s(7), F.lit(".COM"),
        F.when(i % 5 == 0, F.lit(":80"))
        .when(i % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/A/b"), s(13),
        F.when(i % 2 == 0, F.lit("//c/")).otherwise(F.lit("/c")),
        F.when(
            i % 4 == 0,
            F.concat(F.lit("?utm_source=x&id="), s(11), F.lit("&fbclid=z&q=Y")),
        )
        .when(i % 4 == 1, F.concat(F.lit("?id="), s(11)))
        .otherwise(F.lit("")),
        F.when(i % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return d.select("doc_id", url.alias("url"))


def q_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization + dedup (curation.url_dedup — the Dolma
    dedupe-by-URL pass): the decoration plants every equivalence the
    canonicalizer must merge (case, :80, //, trailing /, fragments,
    utm_*/fbclid params) and every one it must NOT (scheme http vs
    https, :8080, differing id= values). Smallest doc_id wins."""
    from cubert_spark.datapipe.curation import url_dedup

    return url_dedup(_decorated_urls(spark, sf))


SQL_URL_DEDUP = """
WITH u AS (
  SELECT doc_id,
         regexp_replace(
           (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END)
           || 'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
           || (CASE WHEN doc_id % 5 = 0 THEN ':80'
                    WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
           || '/A/b' || CAST(doc_id % 13 AS VARCHAR)
           || (CASE WHEN doc_id % 2 = 0 THEN '//c/' ELSE '/c' END)
           || (CASE WHEN doc_id % 4 = 0
                    THEN '?utm_source=x&id=' || CAST(doc_id % 11 AS VARCHAR)
                         || '&fbclid=z&q=Y'
                    WHEN doc_id % 4 = 1
                    THEN '?id=' || CAST(doc_id % 11 AS VARCHAR)
                    ELSE '' END)
           || (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END),
           '#.*$', '') AS nofrag
  FROM documents
),
pieces AS (
  SELECT doc_id,
         -- default-port strip is scheme-sensitive (:80 http-only,
         -- :443 https-only) — matches canonical_url (r15 ADVICE)
         regexp_replace(regexp_replace(
             lower(regexp_extract(nofrag,
                 '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)),
             '^(http://.*):80$', '\\1'),
             '^(https://.*):443$', '\\1') AS head,
         regexp_replace(regexp_replace(
             regexp_extract(nofrag,
                            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
             '/{2,}', '/', 'g'), '/$', '') AS path,
         -- array_to_string([]) is NULL in DuckDB (Spark array_join
         -- gives '') — COALESCE pins the empty-query case
         COALESCE(array_to_string(list_filter(
             string_split(regexp_extract(nofrag, '\\?([^#]*)', 1), '&'),
             p -> p <> '' AND NOT regexp_matches(p,
               '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)=')),
             '&'), '') AS q
  FROM u
),
c AS (
  SELECT doc_id,
         head || (CASE WHEN path = '' THEN '/' ELSE path END)
              || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url
  FROM pieces
)
SELECT canonical_url, MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_dups
FROM c GROUP BY 1
"""


def q_span_corruption(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic T5/UL2 span-corruption plan (curation.
    span_corruption): one 3-token masked span per full 16-token
    window, offset = hash16(doc_id:span_id) mod 14 — the corruption
    mask replays bit-for-bit across engines (content-keyed, the
    deterministic-sampling doctrine)."""
    from cubert_spark.datapipe.curation import span_corruption

    d = load_table(spark, sf, "documents")
    return span_corruption(d, window=16, span_len=3)


SQL_SPAN_CORRUPTION = f"""
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
w AS (SELECT doc_id, CAST(i AS BIGINT) AS span_id
      FROM t, LATERAL UNNEST(range(0, n // 16)) AS u(i)
      WHERE n // 16 > 0)
SELECT doc_id, span_id,
       CAST(span_id * 16
            + ({_hash16_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(span_id AS VARCHAR)", 'span')} % 14)
            AS BIGINT) AS start,
       CAST(3 AS INT) AS length
FROM w
"""



QUERIES = {
    "lm_perplexity": q_lm_perplexity,
    "soft_dedup": q_soft_dedup,
    "perplexity_buckets": q_perplexity_buckets,
    "temperature_mix": q_temperature_mix,
    "domain_cap": q_domain_cap,
    "token_budget": q_token_budget,
    "token_mixture": q_token_mixture,
    "gopher_filter": q_gopher_filter,
    "cluster_reps": q_cluster_reps,
    "c4_filter": q_c4_filter,
    "doremi_weights": q_doremi_weights,
    "proto_prune": q_proto_prune,
    "unimax_budget": q_unimax_budget,
    "repeat_upsample": q_repeat_upsample,
    "decontaminate_spans": q_decontaminate_spans,
    "gopher_repetition": q_gopher_repetition,
    "refinedweb_lines": q_refinedweb_lines,
    "unicode_nfc": q_unicode_nfc,
    "margin_align": q_margin_align,
    "adaptive_cut": q_adaptive_cut,
    "bestfit_pack": q_bestfit_pack,
    "hard_negatives": q_hard_negatives,
    "neardup_ingest": q_neardup_ingest,
    "dedup_exact": q_dedup_exact,
    "bm25_search": q_bm25_search,
    "ngram_jaccard": q_ngram_jaccard,
    "ngram_jaccard_cut": q_ngram_jaccard_cut,
    "minhash_lsh": q_minhash_lsh,
    # minhash_lsh_fast: JVM-hash twin of minhash_lsh — API + pytest
    # agreement-test surface only (a rows-only driver row would be a
    # guaranteed red; the md5 path above holds the oracle line).
    "simhash": q_simhash,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "embedding_topk": q_embedding_topk,
    "multimodal_meta": q_multimodal_meta,
    "dedup_clusters": q_dedup_clusters,
    "det_sample": q_det_sample,
    "weighted_sample": q_weighted_sample,
    "per_group_sample": q_per_group_sample,
    "train_test_split": q_train_test_split,
    "ivf_topk": q_ivf_topk,  # recall contract vs in-query exact top-k
    "lsh_ann": q_lsh_ann,  # recall contract vs in-query exact top-k
    "lsh_ann_exact": q_lsh_ann_exact,
    "ivf_assign_exact": q_ivf_assign_exact,
    "ivf_topk_exact": q_ivf_topk_exact,
    "corpus_pipeline": q_corpus_pipeline,
    "repetition_stats": q_repetition_stats,
    "pii_counts": q_pii_counts,
    "contamination": q_contamination,
    "boilerplate_removal": q_boilerplate_removal,
    "sequence_pack": q_sequence_pack,
    # bpe_tokenize (trained-on-input-sf path): API + pytest surface
    # only — merges depend on the input corpus, so no oracle can
    # replay them; bpe_apply_exact holds the driver line.
    "bpe_apply_exact": q_bpe_apply_exact,
    "ngram_novelty": q_ngram_novelty,
    "stratified_sample": q_stratified_sample,
    "embedding_neardup": q_embedding_neardup,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_prod": q_semantic_dedup_prod,
    "margin_align_prod": q_margin_align_prod,
    "kneser_ney_lm": q_kneser_ney_lm,
    "kneser_ney_trigram": q_kneser_ney_trigram,
    "linear_probe": q_linear_probe,
    "logistic_probe": q_logistic_probe,
    "ict_pairs": q_ict_pairs,
    "bitext_filter": q_bitext_filter,
    "url_dedup": q_url_dedup,
    "span_corruption": q_span_corruption,
    "code_detect": q_code_detect,
    "vocab_growth": q_vocab_growth,
    "chat_assembly": q_chat_assembly,
    "jaccard_prefix": q_jaccard_prefix,
    "containment_pairs": q_containment_pairs,
    "compression_ratio": q_compression_ratio,
    "label_centroids": q_label_centroids,
    "kmeans_lloyd": q_kmeans_lloyd,
    "kmeans_assign": q_kmeans_assign,
    "phrase_search": q_phrase_search,
    "pii_redact": q_pii_redact,
    "filtered_ann": q_filtered_ann,
    "corpus_report": q_corpus_report,
    "pmi_pairs": q_pmi_pairs,
    "paragraph_dedup": q_paragraph_dedup,
    "tfidf_top_terms": q_tfidf_top_terms,
    "mixture_sample": q_mixture_sample,
    "dsir_weights": q_dsir_weights,
    "winnow_pairs": q_winnow_pairs,
    "quality_classifier": q_quality_classifier,
    "neardup_dedup": q_neardup_dedup,
    "normalize_text": q_normalize_text,
    "blocklist_filter": q_blocklist_filter,
    "profile_table": q_profile_table,
    "embedding_quantize": q_embedding_quantize,
    "fuzzy_pairs": q_fuzzy_pairs,
    "fuzzy_pairs2": q_fuzzy_pairs2,
    "fuzzy_pairs_blocked": q_fuzzy_pairs_blocked,
    "chunk_documents": q_chunk_documents,
    "hashed_embedding": q_hashed_embedding,
    "pq_encode": q_pq_encode,
    "pq_adc_topk": q_pq_adc_topk,
    "triangle_count": q_triangle_count,
    "rendezvous_shard": q_rendezvous_shard,
    "epoch_shuffle": q_epoch_shuffle,
    "duplicate_spans": q_duplicate_spans,
}

ORACLES = {
    "lm_perplexity": SQL_LM_PERPLEXITY,
    "soft_dedup": SQL_SOFT_DEDUP,
    "perplexity_buckets": SQL_PERPLEXITY_BUCKETS,
    "temperature_mix": SQL_TEMPERATURE_MIX,
    "domain_cap": SQL_DOMAIN_CAP,
    "token_budget": SQL_TOKEN_BUDGET,
    "token_mixture": SQL_TOKEN_MIXTURE,
    "gopher_filter": SQL_GOPHER_FILTER,
    "cluster_reps": SQL_CLUSTER_REPS,
    "c4_filter": SQL_C4_FILTER,
    "doremi_weights": SQL_DOREMI_WEIGHTS,
    "proto_prune": SQL_PROTO_PRUNE,
    "unimax_budget": SQL_UNIMAX_BUDGET,
    "repeat_upsample": SQL_REPEAT_UPSAMPLE,
    "decontaminate_spans": SQL_DECONTAMINATE_SPANS,
    "gopher_repetition": SQL_GOPHER_REPETITION,
    "refinedweb_lines": SQL_REFINEDWEB_LINES,
    "unicode_nfc": SQL_UNICODE_NFC,
    "margin_align": SQL_MARGIN_ALIGN,
    "margin_align_prod": SQL_MARGIN_ALIGN_PROD,
    "kneser_ney_lm": SQL_KNESER_NEY_LM,
    "kneser_ney_trigram": SQL_KNESER_NEY_TRIGRAM,
    "linear_probe": SQL_LINEAR_PROBE,
    "logistic_probe": SQL_LOGISTIC_PROBE,
    "ict_pairs": SQL_ICT_PAIRS,
    "bitext_filter": SQL_BITEXT_FILTER,
    "url_dedup": SQL_URL_DEDUP,
    "span_corruption": SQL_SPAN_CORRUPTION,
    "code_detect": SQL_CODE_DETECT,
    "vocab_growth": SQL_VOCAB_GROWTH,
    "chat_assembly": SQL_CHAT_ASSEMBLY,
    "adaptive_cut": SQL_ADAPTIVE_CUT,
    "bestfit_pack": SQL_BESTFIT_PACK,
    "hard_negatives": SQL_HARD_NEGATIVES,
    "neardup_ingest": SQL_NEARDUP_INGEST,
    "dedup_exact": SQL_DEDUP_EXACT,
    "bm25_search": SQL_BM25_SEARCH,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "ngram_jaccard_cut": SQL_NGRAM_JACCARD_CUT,
    "minhash_lsh": SQL_MINHASH_LSH,
    "simhash": SQL_SIMHASH,
    "text_quality": SQL_TEXT_QUALITY,
    "lang_id": SQL_LANG_ID,
    "token_counts": SQL_TOKEN_COUNTS,
    "fingerprint": SQL_FINGERPRINT,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "ivf_topk": SQL_ANN_RECALL,
    "lsh_ann": SQL_ANN_RECALL,
    "compression_ratio": SQL_COMPRESSION_RATIO,
    "lsh_ann_exact": SQL_LSH_ANN_EXACT,
    "ivf_assign_exact": SQL_IVF_ASSIGN_EXACT,
    "ivf_topk_exact": SQL_IVF_TOPK_EXACT,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "det_sample": SQL_DET_SAMPLE,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "per_group_sample": SQL_PER_GROUP_SAMPLE,
    "train_test_split": SQL_TRAIN_TEST_SPLIT,
    "corpus_pipeline": SQL_CORPUS_PIPELINE,
    "repetition_stats": SQL_REPETITION_STATS,
    "pii_counts": SQL_PII_COUNTS,
    "contamination": SQL_CONTAMINATION,
    "boilerplate_removal": SQL_BOILERPLATE_REMOVAL,
    "sequence_pack": SQL_SEQUENCE_PACK,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "semantic_dedup_prod": SQL_SEMANTIC_DEDUP_PROD,
    "jaccard_prefix": SQL_JACCARD_PREFIX,
    "containment_pairs": SQL_CONTAINMENT_PAIRS,
    "label_centroids": SQL_LABEL_CENTROIDS,
    "kmeans_lloyd": SQL_KMEANS_LLOYD,
    "kmeans_assign": SQL_KMEANS_ASSIGN,
    "phrase_search": SQL_PHRASE_SEARCH,
    "pii_redact": SQL_PII_REDACT,
    "filtered_ann": SQL_FILTERED_ANN,
    "corpus_report": SQL_CORPUS_REPORT,
    "pmi_pairs": SQL_PMI_PAIRS,
    "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "mixture_sample": SQL_MIXTURE_SAMPLE,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "winnow_pairs": SQL_WINNOW_PAIRS,
    "quality_classifier": SQL_QUALITY_CLASSIFIER,
    "bpe_apply_exact": SQL_BPE_APPLY_EXACT,
    "neardup_dedup": SQL_NEARDUP_DEDUP,
    "normalize_text": SQL_NORMALIZE_TEXT,
    "blocklist_filter": SQL_BLOCKLIST_FILTER,
    "profile_table": SQL_PROFILE_TABLE,
    "embedding_quantize": SQL_EMBEDDING_QUANTIZE,
    "fuzzy_pairs": SQL_FUZZY_PAIRS,
    "fuzzy_pairs2": SQL_FUZZY_PAIRS2,
    "fuzzy_pairs_blocked": SQL_FUZZY_PAIRS_BLOCKED,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "hashed_embedding": SQL_HASHED_EMBEDDING,
    "pq_encode": SQL_PQ_ENCODE,
    "pq_adc_topk": SQL_PQ_ADC_TOPK,
    "triangle_count": SQL_TRIANGLE_COUNT,
    "rendezvous_shard": SQL_RENDEZVOUS_SHARD,
    "epoch_shuffle": SQL_EPOCH_SHUFFLE,
    "duplicate_spans": SQL_DUPLICATE_SPANS,
}
