"""Deduplication operators for document corpora.

Four tiers, cheapest-first — the standard large-corpus dedup funnel:

1. ``exact_dedup``        — md5 content hash, one shuffle on the hash.
2. ``simhash``            — 32-bit near-dup fingerprint; equal
   fingerprints cluster trivially.
3. ``minhash_lsh_pairs``  — MinHash signatures + banded LSH candidate
   generation + exact-Jaccard verification (the scale path: candidate
   join is on band keys, never all-pairs).
4. ``ngram_jaccard_pairs``— exact Jaccard via a shingle inverted-index
   join (quadratic only within shingle posting lists; used as the
   verifier inside minhash and as ground truth on smaller slices).

All hashes are md5-based (deterministic, engine-portable — the DuckDB
oracles reproduce them bit-for-bit). At 100 TB: every step is
shuffle-on-key + partial aggregation; posting lists for ultra-common
shingles are the skew risk, handled by dropping top-frequency shingles
(``max_doc_freq``) — the standard stopword-shingle cut.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cubert_spark.datapipe.textstats import shingles
from cubert_spark.checkpoints import lazy_checkpoint


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition ONLY when the scan has fewer splits than the
    cluster has cores — a small/unsplittable file set would otherwise
    single-thread the expensive per-doc shingle build. At real scale
    the input has >= cores splits and this is a no-op (no shuffle);
    keyed on the id so the placement is deterministic."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, id_col)
    return df


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keep the min-id representative per
    distinct text. Returns (rep_id, n_copies, content_hash)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --- SimHash ----------------------------------------------------------------

def simhash32(text: Column) -> Column:
    """32-bit SimHash over distinct word tokens.

    bit_j(doc) = majority over tokens of bit_j(md5(token)); bits taken
    from the first 8 hex nibbles. Built entirely from JVM expressions
    (aggregate over the token array) — no UDF, and reproducible in SQL.
    """
    toks = F.array_distinct(F.split(text, " "))
    # Hash each token ONCE: pack the first 8 hex nibbles of md5 into a
    # bigint (nibble 0 most significant). The previous spelling ran 32
    # independent folds that each re-inlined the md5 transform, so every
    # token was hashed 32 times; this one fold with an array accumulator
    # hashes it once (measured 2x+ on the sf0.1 bench).
    vals = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    # bit j of the fingerprint reads bit (j % 4) of nibble (j // 4),
    # which sits at position 4*(7 - j//4) + (j % 4) of the packed value
    shifts = [4 * (7 - j // 4) + (j % 4) for j in range(32)]
    zero = F.array(*[F.lit(0).cast("bigint") for _ in range(32)])
    votes = F.aggregate(
        vals,
        zero,
        lambda acc, v: F.zip_with(
            acc,
            F.array(*[
                (F.shiftright(v, s).bitwiseAND(F.lit(1)) * 2 - 1).cast("bigint")
                for s in shifts
            ]),
            lambda a, b: a + b,
        ),
    )
    weights = F.array(*[F.lit(2 ** j).cast("bigint") for j in range(32)])
    out = F.aggregate(
        F.zip_with(
            votes,
            weights,
            lambda vt, w: F.when(vt > 0, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    # null text: the old per-bit spelling decayed to 0 (WHEN null ->
    # ELSE 0 summed); the fold propagates null, so pin the same value
    return F.coalesce(out, F.lit(0).cast("bigint"))


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Cluster docs by equal SimHash fingerprint; returns clusters with
    more than one member (near-dup groups)."""
    return (
        df.select(F.col(id_col), simhash32(F.col(text_col)).alias("simhash"))
        .groupBy("simhash")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


# --- n-gram Jaccard ---------------------------------------------------------

def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_doc_freq: int | None = None,
    max_doc_freq_frac: float | None = None,
) -> DataFrame:
    """Distinct (id, shingle) pairs; optional stopword-shingle cut to
    bound posting-list skew, in two spellings:

    - ``max_doc_freq``: absolute document-frequency ceiling — right
      when the operator knows its corpus size;
    - ``max_doc_freq_frac``: ceiling as a FRACTION of the corpus
      (df <= frac * n_docs) — the corpus-size-independent spelling a
      growing pipeline should use. A constant cut silently stops
      thinning anything once posting lists outgrow it (measured in
      the r10 ngram_jaccard scaling post-mortem, SCALE.md: candidate
      pairs grow ~N^2/|shingles| under a bounded vocabulary); a
      relative cut keeps removing the same stopword-shingle TAIL at
      every scale.

    Pass BOTH for the 100 TB shape (min semantics, r13): the frac
    rule alone lets a SURVIVING posting grow proportionally with the
    corpus, and downstream pair generation is quadratic in posting
    size — the r13 gen10 sweep measured frac-only postings of 20k
    docs emitting ~2e8 join rows per shingle and exhausting the spill
    disk (SCALE.md r13). The absolute ceiling is the pair-expansion
    BUDGET: <= C(max_doc_freq, 2) candidates per shingle at any
    corpus size. n_docs is a 1-row broadcast stat, not a shuffle,
      counted over the SHINGLED corpus (distinct ids that produced at
      least one k-shingle) — counting all input rows would inflate
      the denominator with null/too-short docs and thin less than
      "fraction of the corpus" promises on dirty data (r10 ADVICE).
    """
    _check_df_cut_params("shingle_table", max_doc_freq, max_doc_freq_frac)
    sh = _spread(df, id_col).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("shingle")
    )
    if max_doc_freq is not None or max_doc_freq_frac is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        cond = None
        if max_doc_freq_frac is not None:
            # (r16 A/B note: deriving n_docs from a separate
            # array-build pass — size(shingles) > 0 over N rows
            # instead of countDistinct over the exploded ~10xN — is
            # the same value and looks strictly cheaper, but measured
            # SLOWER on every ngram_jaccard_cut composite: this
            # spelling's exploded subtree is shared with the freq
            # aggregate's exchange at runtime, so the "extra" explode
            # is nearly free, while the array-build pass is a real
            # extra scan of the text column. Left as-is.)
            total = sh.select(F.countDistinct(id_col).alias("__n"))
            freq = freq.crossJoin(F.broadcast(total))
            cond = F.col("df") <= F.col("__n") * F.lit(float(max_doc_freq_frac))
        if max_doc_freq is not None:
            # combines with the frac cut (min semantics) — see
            # _check_df_cut_params for why both is the 100 TB shape
            abs_cond = F.col("df") <= max_doc_freq
            cond = abs_cond if cond is None else (cond & abs_cond)
        sh = sh.join(freq.filter(cond).select("shingle"), "shingle")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_doc_freq: int | None = None,
    max_doc_freq_frac: float | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via inverted-index self-join.

    Output: (id_a, id_b, jac) with id_a < id_b, jac >= threshold.
    Intersection counted by the shingle join; union from per-doc
    shingle counts (|A|+|B|-inter). The join shuffles on the shingle —
    never an all-pairs product. The optional stopword-shingle cut
    (absolute ``max_doc_freq`` or corpus-relative
    ``max_doc_freq_frac`` — see shingle_table) bounds posting-list
    growth; Jaccard is then computed over the post-cut shingle space
    (sizes count surviving shingles, so the semantics stay
    self-consistent).
    """
    if max_doc_freq is not None or max_doc_freq_frac is not None:
        sh = shingle_table(
            df, text_col, id_col, k, max_doc_freq, max_doc_freq_frac
        )
        sized = sh.join(
            sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz")), id_col
        )
    else:
        # No stopword cut: skip the separate sizes aggregation and
        # carry |doc| through the explode instead — one narrow
        # projection feeds the join directly and the two post-agg
        # size joins (each a full recompute of the explode) vanish.
        # Two plan traps here, both measured 8-10x at sf0.1:
        # (a) the array is aliased in its own projection FIRST, so
        # explode and size reference a column — inlining the raw
        # shingle expression puts the whole array build in the
        # post-Generate project, re-run once per exploded ROW;
        # (b) explode_outer + a cheap post-filter on the output
        # column, NOT explode: InferFiltersFromGenerate would turn a
        # plain explode into a size(<arr-expr>)>0 filter that
        # re-evaluates the array build twice per doc AND pushes below
        # the _spread exchange — single-threading the most expensive
        # expression in the query on an unsplit input file.
        base = _spread(df, id_col).select(
            F.col(id_col), shingles(F.col(text_col), k).alias("__arr")
        )
        sized = base.select(
            F.col(id_col),
            F.size("__arr").alias("sz"),
            F.explode_outer("__arr").alias("shingle"),
        ).filter(F.col("shingle").isNotNull())
    a = sized.select(F.col(id_col).alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    b = sized.select(F.col(id_col).alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    # merge hint: the exploded table can be huge (10x corpus) — never
    # let AQE broadcast it; both sides canonicalize identically, so
    # sort-merge costs ONE shuffle+sort via ReusedExchange.
    inter = (
        a.join(b.hint("merge"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    ).cast("double")
    return (
        inter.withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


# --- MinHash + LSH ----------------------------------------------------------

def minhash_signature(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-doc MinHash signature: h_i = min over shingles of
    hash(i, shingle). One groupBy computes all hashes (num_hashes
    min-aggregates, map-side partial).

    hash_fn: "md5" (default — engine-portable, the DuckDB oracle
    reproduces it bit-for-bit) or "xxhash64" (JVM-native 64-bit,
    ~4-5x faster end-to-end measured at sf0.1 — the production setting
    when cross-engine reproducibility is not required).

    md5 lane packing: lane i is the i-th 8-hex-char (32-bit) chunk of
    md5(f"{i//4}|" + shingle) — num_hashes lanes cost ceil(n/4) digests
    per shingle row, not n. The r02->r03 bench drift traced to exactly
    this digest count (md5 was 5x xxhash64 end-to-end; see SCALE.md);
    chunking buys the md5 path back ~2.5x with identical statistics
    (independent uniform 32-bit lanes). Fixed-width lowercase-hex
    substrings compare lexicographically == numerically, so MIN is the
    same in Spark and DuckDB (`substr(md5(..), 1+8*(i%4), 8)`)."""
    if hash_fn == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        digests = {
            d: F.md5(F.concat(F.lit(f"{d}|"), F.col("shingle")))
            for d in {i // 4 for i in range(num_hashes)}
        }
        aggs = [
            F.min(F.substring(digests[i // 4], 1 + 8 * (i % 4), 8)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Band the signature: band key = hash of the band's signature
    slice. Output: (id, band_idx, band_key) — the LSH bucket join key."""
    assert num_hashes % band_size == 0
    bands = []
    for b in range(num_hashes // band_size):
        cols = [F.col(f"h{b * band_size + r}") for r in range(band_size)]
        if hash_fn == "xxhash64":
            key = F.xxhash64(*cols).cast("string")
        else:
            key = F.md5(F.concat(*cols))
        bands.append(F.struct(F.lit(b).alias("band_idx"), key.alias("band_key")))
    return sig.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band")
    ).select(id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key"))


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_doc_freq: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    Scale shape: shingle explode -> groupBy(id) signatures -> explode
    bands -> self-join on (band_idx, band_key) -> distinct candidate
    pairs -> verify via the shingle inverted index. The only joins are
    key-equi joins on hash values; skew bounded by band collision
    rates + ``max_doc_freq``.

    The shingle table feeds both the signature branch and the verify
    branch, and is deliberately NOT cached: with chunked-md5 lanes the
    signature-side recompute is cheaper than scanning a persisted
    exploded-shingle table (A/B at sf0.1: recompute 9.4/5.1/4.2 s
    cold/warm/warm vs persisted 22.9/12.0/11.9 s), and the verify
    branch only touches the semi-join-pruned candidate slice. At
    100 TB the same logic holds harder — the exploded table is ~10x
    the corpus and would spill, while recompute streams.
    """
    sh = shingle_table(df, text_col, id_col, k, max_doc_freq)
    sig = minhash_signature(sh, id_col, num_hashes, hash_fn)
    bands = lsh_bands(sig, id_col, num_hashes, band_size, hash_fn)
    ca = bands.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    cb = bands.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    # localCheckpoint (lazy, r16): `cand` feeds the id_a union, the
    # id_b union AND the final verify join — without it the whole
    # signature pipeline (shingle explode -> md5 lanes -> band
    # self-join -> distinct) is re-evaluated once per consumer, 3x
    # (r16 plan audit: 11 Generates; `tools/dump_plans.py` regenerates
    # the explain dump).
    # This is NOT the rejected sh-persist of the A/B note above: the
    # materialized relation is the candidate PAIR LIST (near-dup
    # population sized, tiny at any scale), not the 10x-corpus
    # exploded shingle table; recomputed from parquet per invocation.
    cand = (
        ca.join(cb, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .transform(lazy_checkpoint)
    )
    # Exact verification restricted to candidate docs BEFORE the
    # inverted-index self-join: semi-join the shingle table down to
    # docs that appear in any candidate pair, so the quadratic step
    # runs on the (tiny) near-dup population, not the whole corpus.
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Verify by per-doc shingle SETS + array_intersect: two equi-joins
    # on doc id and one codegen expression per candidate pair. Beats
    # the inverted-index pairwise join (shuffle of every co-occurring
    # shingle posting + a pair-keyed groupBy) 1.4x measured at sf0.1,
    # same exact Jaccard. Set size is bounded by document length.
    # Prune BEFORE the explode when no frequency cut is in play: the
    # verify branch then shingles only the candidate docs instead of
    # re-exploding the whole corpus and semi-joining after (the
    # max_doc_freq path must keep the full-corpus explode — the freq
    # table is a corpus-wide statistic).
    if max_doc_freq is None:
        vsh = shingle_table(
            df.join(cand_ids, id_col, "left_semi"), text_col, id_col, k, None
        )
    else:
        vsh = sh.join(cand_ids, id_col, "left_semi")
    docsh = vsh.groupBy(id_col).agg(F.collect_set("shingle").alias("__sh"))
    a = docsh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa"))
    b = docsh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    jac = inter.cast("double") / (
        F.size("__sa") + F.size("__sb") - inter
    ).cast("double")
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def fuzzy_pairs(
    df: DataFrame,
    col: str = "c_name",
    id_col: str = "c_custkey",
    max_dist: int = 1,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Entity-resolution pair generation: all (id_a, id_b, dist) with
    ``levenshtein(a, b) <= max_dist`` (currently max_dist=1), found via
    SymSpell-style deletion-neighborhood blocking — NEVER an all-pairs
    product. Each value explodes to itself plus its length single-char
    deletions; any two strings within edit distance 1 (sub/ins/del)
    provably share a variant, so one equi-join on the variant yields a
    candidate superset that an exact ``levenshtein`` filter then trims.

    Scale shape: explode factor = len+1 per row for max_dist=1 and
    ~len^2/2 for max_dist=2 (the SymSpell trade: deeper neighborhoods
    buy recall at explode cost); the variant equi-join is an inverted
    index whose posting lists are bounded by how many strings collapse
    to one variant (name-shaped data: tiny). The verify is a
    per-candidate JVM levenshtein. The SymSpell completeness property
    holds per depth: lev(a,b) <= d  =>  some <= d-deletion variant of
    a equals some <= d-deletion variant of b.

    ``block_cols`` (standard ER blocking keys, e.g. a region column)
    become part of the variant JOIN KEY: cross-block candidates never
    form, cutting posting-list volume by the block fan-out instead of
    filtering after the join (measured 12.6 -> ~4 s on the
    golden_record composition at sf0.1).
    """
    if max_dist not in (1, 2):
        raise NotImplementedError("fuzzy_pairs supports max_dist in (1, 2)")
    c = F.col(col)
    # join key = xxhash64 of the variant (with the block cols folded
    # in), not the variant string: the shuffle carries 8-byte keys, and
    # a hash collision merely ADDS a candidate pair that the exact
    # levenshtein + block-equality filter then rejects — results
    # identical by construction
    #
    # the posting joins carry ONLY (8-byte id, 8-byte key) per posting
    # — the value strings and block cols are re-fetched by id AFTER the
    # candidate set is distinct'd, so the big shuffles (posting join +
    # distinct) move 16-byte rows instead of rows dragging two full
    # strings (measured 1.4x at d=2 sf0.1 against the old
    # value-carrying join under the same merge-hinted safe plan, and
    # 2x on the blocked gen1 curve; requires id_col unique per entity
    # — enforced by the raise_error guard on the re-fetch below)
    #
    # distinct BEFORE the levenshtein: a true pair shares MANY variants
    # (up to ~len^2/2 at depth 2), so verifying per join row would run
    # the edit distance once per shared variant instead of once per
    # candidate pair (measured 3x at depth 2, sf0.1)
    #
    # merge hints everywhere: NEVER let the planner broadcast a posting
    # side. The 16-byte projection makes Catalyst's size estimate tiny,
    # but the estimator does not model Generate's fan-out (~len^2/2
    # variants per row at d=2) — at gen1 the "small" side is 28M
    # posting rows and the broadcast hash relation OOMs the executor
    # heap (measured: 3/3 OOMs at local[32] before the hint).
    # Sort-merge costs one spillable shuffle+sort per side — the
    # minhash_lsh lesson.
    bcols = list(block_cols or [])
    if max_dist == 1:
        del1 = F.expr(
            f"transform(sequence(1, length({col})), i ->"
            f" concat(substr({col}, 1, i - 1), substr({col}, i + 1, length({col}))))"
        )
        variants = F.array_union(
            F.array(c),
            F.when(F.length(c) >= 1, del1).otherwise(
                F.array().cast("array<string>")
            ),
        )
        # depth 1: recompute beats a posting checkpoint (1.8 -> 2.4 s
        # measured at sf0.1 — the len+1 explode is cheaper than
        # materializing the postings), and one unconstrained self-join
        # is already near-minimal at this fan-out.
        side = (
            _spread(df, id_col)
            .select(F.col(id_col).alias("__id"),
                    F.explode(variants).alias("__var"), *bcols)
            .select("__id", F.xxhash64("__var", *bcols).alias("__vk"))
        )
        a = side.select(F.col("__id").alias("id_a"), "__vk")
        b = side.select(F.col("__id").alias("id_b"), "__vk")
        cand = (
            a.join(b.hint("merge"), "__vk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        # depth 2 (r16 restructure): position-constrained deletion-
        # neighborhood joins. The naive single join matches EVERY
        # variant of a against EVERY variant of b, and its volume is
        # dominated by depth-2 x depth-2 matches at UNRELATED deletion
        # positions. The standard edit-script case analysis (public:
        # the FastSS / Mor-Fraenkel deletion-dictionary line of work)
        # shows most of that volume proves nothing:
        #
        #   lev(a, b) <= 2 decomposes by |len(a) - len(b)|:
        #     0: identical | 1 sub | 2 subs | 1 ins + 1 del
        #     1: 1 del     | 1 del + 1 sub
        #     2: 2 dels
        #
        #   identical      -> orig  = orig          (J-A, d0 x d0)
        #   1 sub          -> d1(p) = d1(p)  same p (J-A, d1 x d1)
        #   ins + del      -> d1(p) = d1(q)  any    (J-A, d1 x d1)
        #   2 subs         -> d2{p,q} = d2{p,q} at the SAME unordered
        #                     position pair — deleting the two mismatch
        #                     positions from both sides (J-B)
        #   1 del          -> d1 = orig             (J-A, d1 x d0)
        #   del + sub      -> d2 = d1       any     (J-C)
        #   2 dels         -> d2 = orig             (J-C)
        #
        # So depth-2 variants never need to meet OTHER-position depth-2
        # variants: J-B joins on xxhash64(variant, i, j) and the cross-
        # position multiplicity (~len^2/2 shared variants per true
        # pair) disappears. Completeness is unchanged — every lev<=2
        # case above is produced by one of J-A/J-B/J-C, extra
        # candidates (hash collisions, higher true distance) are
        # trimmed by the same exact verify. Measured at sf0.1: join
        # output 31.7M -> ~6M rows, distinct input likewise; the
        # posting explode is shared by all three joins via one lazy
        # checkpoint (28-byte rows; at depth 2 the ~len^2/2-way
        # Generate dominates and feeds every join side — materializing
        # it once measured ~0.85x isolated even under the old single
        # join).
        d0e = f"array(named_struct('d', 0, 'i', 0, 'j', 0, 'v', {col}))"
        d1e = (
            f"transform(sequence(1, length({col})), i -> named_struct("
            f"'d', 1, 'i', i, 'j', 0, 'v',"
            f" concat(substr({col}, 1, i - 1), substr({col}, i + 1, length({col})))))"
        )
        # depth-2 deletions: drop positions i < j in one pass over the
        # original (delete j first so i's index is unshifted)
        d2e = (
            f"flatten(transform(sequence(1, length({col}) - 1), i ->"
            f" transform(sequence(i + 1, length({col})), j -> named_struct("
            f"'d', 2, 'i', i, 'j', j, 'v',"
            f" concat(substr({col}, 1, i - 1),"
            f"        substr({col}, i + 1, j - i - 1),"
            f"        substr({col}, j + 1, length({col})))))))"
        )
        # guard: sequence(1, 0) runs DESCENDING in Spark, so short
        # strings must short-circuit to empty variant arrays (and a
        # NULL value rides the d0 posting only, exactly as before —
        # IF(NULL >= n, ...) takes the else branch)
        empty = (
            "cast(array() as array<struct<d:int,i:int,j:int,v:string>>)"
        )
        postings = F.expr(
            f"concat({d0e},"
            f" if(length({col}) >= 1, {d1e}, {empty}),"
            f" if(length({col}) >= 2, {d2e}, {empty}))"
        )
        side = (
            _spread(df, id_col)
            .select(F.col(id_col).alias("__id"),
                    F.explode(postings).alias("__p"), *bcols)
            .select(
                "__id",
                F.col("__p.d").alias("__d"),
                F.xxhash64(F.col("__p.v"), *bcols).alias("__vk"),
                F.xxhash64(
                    F.col("__p.v"), F.col("__p.i"), F.col("__p.j"), *bcols
                ).alias("__pk"),
            )
        )
        side = lazy_checkpoint(side)
        p01 = side.filter(F.col("__d") <= 1)
        p2 = side.filter(F.col("__d") == 2)
        # J-A/J-C folded into ONE position-free join: ALL postings x
        # depth<=1 postings on the plain variant hash. Covers
        # identical (d0 x d0), 1 sub + ins+del (d1 x d1), 1 del
        # (d1 x d0), and del+sub / 2 dels (d2 x d1 / d2 x d0) — every
        # position-free case — while d2 x d2 pairs CANNOT form here
        # (the right table has no depth-2 rows). One-directional by
        # table for the cross-depth cases, so normalize with
        # least/greatest BEFORE the a < b cut; same-depth pairs just
        # appear in both orientations and collapse in the distinct.
        jac = (
            side.select(F.col("__id").alias("id_a"), "__vk")
            .join(
                p01.select(F.col("__id").alias("id_b"), "__vk").hint("merge"),
                "__vk",
            )
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
        )
        # J-B: depth-2 x depth-2 at the SAME deletion-position pair
        # (2 subs) — keyed on the position-qualified hash
        jb = (
            p2.select(F.col("__id").alias("id_a"), "__pk")
            .join(
                p2.select(F.col("__id").alias("id_b"), "__pk").hint("merge"),
                "__pk",
            )
            .select("id_a", "id_b")
        )
        cand = (
            jac.unionByName(jb)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    # the re-fetch-by-id design REQUIRES one row per id (a duplicate id
    # would cross-product its values onto every candidate pair) — the
    # contract is enforced with the rs_join distributed-assertion
    # idiom: one window count, raise_error at runtime, no driver count
    from pyspark.sql import Window

    ng = F.when(
        F.count(F.lit(1)).over(Window.partitionBy(F.col(id_col))) > 1,
        F.raise_error(
            F.concat(
                F.lit(f"fuzzy_pairs: duplicate {id_col} "),
                F.col(id_col).cast("string"),
                F.lit(" — re-fetch by id needs one row per entity"),
            )
        ),
    ).otherwise(F.lit(True))
    na = (
        df.withColumn("__fp_guard", ng)
        .filter("__fp_guard")
        .select(
            F.col(id_col).alias("id_a"), c.alias("__va"),
            *[F.col(bc).alias(f"__ba_{bc}") for bc in bcols],
        )
    )
    nb = df.select(
        F.col(id_col).alias("id_b"), c.alias("__vb"),
        *[F.col(bc).alias(f"__bb_{bc}") for bc in bcols],
    )
    out = cand.join(na, "id_a").join(nb, "id_b")
    for bc in bcols:
        # hashing the block into __vk already co-locates; the explicit
        # equality rejects hash collisions across blocks
        out = out.filter(F.col(f"__ba_{bc}").eqNullSafe(F.col(f"__bb_{bc}")))
    # banded verify (r16, guide §4/§1): the 3-arg levenshtein computes
    # only the |i-j| <= max_dist DP band and returns -1 past the
    # threshold — ~(2d+1)/len of the full-matrix work per candidate
    # (18-char names at d=2: ~3.6x fewer DP cells), with the RETURNED
    # distance identical whenever it is <= max_dist, i.e. for every
    # row this operator emits. The filter must exclude the -1
    # sentinel explicitly (-1 <= max_dist would pass it).
    return (
        out.select(
            "id_a",
            "id_b",
            F.levenshtein("__va", "__vb", max_dist).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT word-set Jaccard-similar pairs via PPJoin-style prefix
    filtering (Xiao et al., WWW 2008 — public): index only each
    document's PREFIX — its (|s| - ceil(t*|s|) + 1) globally-rarest
    distinct words — instead of every posting. Two sets with
    Jaccard >= t MUST share a prefix token (the prefix-filter
    principle), so the candidate join is complete; the exact-count
    verify then makes the result identical to the full inverted-index
    join (:func:`ngram_jaccard_pairs`' shape) at a fraction of the
    candidate volume.

    Output: (id_a, id_b, jac) with id_a < id_b, jac >= threshold.

    At 100 TB: the global word-frequency table is one keyed agg; the
    rarest-first ordering makes prefix postings SMALL by construction
    (rare words have short posting lists), which is the algorithm's
    whole point — the candidate join shuffles prefix tokens only, and
    frequency ordering concentrates them on low-skew keys. The
    per-doc rank window partitions by doc (bounded). Everything is
    integer counts + one final double divide, engine-exact."""
    tok = (
        _spread(df, id_col)
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    wfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    ranked = (
        tok.join(wfreq, "w")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("df", "w")
            ),
        )
        .join(sizes, id_col)
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select(F.col(id_col), "w", "sz")
    a = prefix.select(F.col(id_col).alias("id_a"), "w", F.col("sz").alias("sz_a"))
    b = prefix.select(F.col(id_col).alias("id_b"), "w", F.col("sz").alias("sz_b"))
    cand = (
        a.join(b, "w")
        .filter(F.col("id_a") < F.col("id_b"))
        # size filter, BOTH directions: jac >= t forces
        # inter >= t*union >= t*max(|A|,|B|), and inter <= min(|A|,|B|),
        # so each side's size must reach t x the other's — true pairs
        # satisfy both, everything else prunes before the distinct
        .filter(F.col("sz_a") >= F.ceil(F.lit(threshold) * F.col("sz_b")))
        .filter(F.col("sz_b") >= F.ceil(F.lit(threshold) * F.col("sz_a")))
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )
    ta = tok.select(F.col(id_col).alias("id_a"), "w")
    tb = tok.select(F.col(id_col).alias("id_b"), "w")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "w"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    ).cast("double")
    return (
        inter.withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection: shingle-set containment
    C(A in B) = |A ∩ B| / |A| — the signal Jaccard misses when a short
    document is wholly QUOTED inside a long one (|A∩B|/|A| ~ 1 while
    Jaccard ~ |A|/|B| stays small). The curation use: drop or link
    subset-duplicates, quote farms, and boilerplate-wrapped copies.

    Output: one row per unordered candidate pair with BOTH directions,
    (id_a, id_b, sz_a, sz_b, inter, cont_ab, cont_ba), kept when
    either direction reaches ``threshold``.

    Same inverted-index plan as :func:`ngram_jaccard_pairs` (shingle
    equi-join, never a doc x doc product; merge-hinted so AQE never
    broadcasts the exploded side); all counts integer-exact, the two
    divides are single IEEE ops."""
    base = _spread(df, id_col).select(
        F.col(id_col), shingles(F.col(text_col), k).alias("__arr")
    )
    sized = base.select(
        F.col(id_col),
        F.size("__arr").alias("sz"),
        F.explode_outer("__arr").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    a = sized.select(F.col(id_col).alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    b = sized.select(F.col(id_col).alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    inter = (
        a.join(b.hint("merge"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont_ab = F.col("inter").cast("double") / F.col("sz_a").cast("double")
    cont_ba = F.col("inter").cast("double") / F.col("sz_b").cast("double")
    return (
        inter.withColumn("cont_ab", cont_ab)
        .withColumn("cont_ba", cont_ba)
        .filter(
            (F.col("cont_ab") >= threshold) | (F.col("cont_ba") >= threshold)
        )
        .select("id_a", "id_b", "sz_a", "sz_b", "inter", "cont_ab", "cont_ba")
    )


def reject_by_bands(
    bands: DataFrame,
    id_col: str = "doc_id",
    ledger: DataFrame | None = None,
    broadcast_bands: bool = False,
) -> DataFrame:
    """The near-dup ingest ADMISSION RULE, shared by the streaming
    sink (streaming.ingest.ingest_neardup) and its driver-attested
    batch twin (queries.datapipe.q_neardup_ingest) — one
    implementation so a rule change cannot silently diverge the twin
    from the stream (the rank_windows sharing pattern). Returns the
    distinct ids REJECTED from ``bands``: any band key (1) present in
    ``ledger`` (band_idx, band_key rows of previously admitted docs),
    or (2) shared by a smaller-id doc in the same ``bands`` set.
    Rule (2) is conservative-greedy (documented at both call sites).
    The independent replay in tests/test_streaming.py deliberately
    does NOT use this helper — it is the rule's oracle.

    ``broadcast_bands=True`` pins the rule-(1) ledger probe to a
    broadcast hash join with the BANDS side as build (the streaming
    sink sets it: a micro-batch's bands are small, the accumulated
    ledger is not — without the hint, unknown streaming-side stats
    can leave Spark sort-merging, i.e. SHUFFLING THE WHOLE LEDGER
    per batch). The batch twin keeps the default: its "ledger" is a
    derived corpus-sized side where Spark's own stats should choose.
    Semantics are identical either way."""
    smaller = bands.select(
        "band_idx", "band_key", F.col(id_col).alias("__other")
    )
    rejected = (
        bands.join(smaller, ["band_idx", "band_key"])
        .filter(F.col("__other") < F.col(id_col))
        .select(id_col)
    )
    if ledger is not None:
        probe = F.broadcast(bands) if broadcast_bands else bands
        rejected = rejected.union(
            probe.join(
                ledger.select("band_idx", "band_key"),
                ["band_idx", "band_key"],
            ).select(id_col)
        )
    return rejected.distinct()


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS winnowing (Schleimer, Wilkerson, Aiken 2003, SIGMOD —
    public): position-robust substring fingerprints with a GUARANTEE —
    any two documents sharing a run of >= w + k - 1 consecutive tokens
    share at least one fingerprint, while only ~2/(w+1) of the k-gram
    hashes are kept. The bounded-size exact-substring-match detector
    (plagiarism / license-text / template detection) that the single
    min-hash fingerprint (textstats.fingerprint) and shingle-set
    Jaccard can't provide: Jaccard scores global overlap, winnowing
    certifies LOCAL runs.

    Mechanics: lowercase ``[a-z0-9]+`` tokens -> ordered word k-gram
    hashes (first 8 md5 hex chars — fixed-width lowercase hex, so
    lexicographic string order IS numeric hash order in every engine,
    no integer decode needed) -> minimum per sliding window of ``w``
    -> distinct. Documents with fewer than k tokens yield no rows;
    with fewer than w windows, the single global min (the guarantee
    degenerates gracefully to whole-short-doc matching).

    Scale shape: one codegen map stage (array expressions only) + the
    explode; ~2N/(w+1) fingerprint rows per N-token corpus. Pair
    generation downstream is the standard posting-list join — cut
    high-df fingerprints first (boilerplate guard), exactly like the
    ngram_jaccard df cut.

    Output: (id_col, fp string) distinct rows.
    """
    return _winnow_fp_stream(df, k, w, text_col, id_col).distinct()


def _winnow_fp_stream(
    df: DataFrame, k: int, w: int, text_col: str, id_col: str
) -> DataFrame:
    """Non-distinct (id, fp) stream — one codegen map stage + the
    explode. winnow_fingerprints distincts it; winnow_pairs dedups
    inside its posting aggregation instead (collect_set), saving a
    whole shuffle."""
    toks = F.regexp_extract_all(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))),
        F.lit("[a-z0-9]+"),
        F.lit(0),
    )
    base = _spread(df, id_col).select(F.col(id_col), toks.alias("__t"))
    # ordered k-gram hash sequence, aliased in its own projection
    # (every window expression references it w times — the catalogued
    # CollapseProject md5 trap)
    hashes = F.when(
        F.size("__t") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("__t") - (k - 1)),
            lambda i: F.substring(
                F.md5(F.concat_ws(" ", F.slice("__t", i, k))), 1, 8
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hb = base.select(F.col(id_col), hashes.alias("__h"))
    m = F.size("__h")
    wins = (
        F.when(
            m >= w,
            F.transform(
                F.sequence(F.lit(1), m - (w - 1)),
                lambda i: F.array_min(F.slice("__h", i, w)),
            ),
        )
        .when(m > 0, F.array(F.array_min("__h")))
        .otherwise(F.array().cast("array<string>"))
    )
    return (
        hb.select(F.col(id_col), F.explode_outer(wins).alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def _check_df_cut_params(who: str, max_doc_freq, max_doc_freq_frac) -> None:
    """The dual df-cut spelling's shared validation (shingle_table and
    winnow_pairs must stay in lockstep — the denominator and exclusion
    semantics were diverging hand-rolled copies before r12). Since r13
    the two spellings COMBINE (effective ceiling = min(absolute,
    frac * corpus)): the relative cut keeps removing the stopword TAIL
    at every scale, but it alone lets a surviving posting grow
    proportionally with the corpus, and pair expansion is QUADRATIC in
    posting size — the gen10 sweep measured frac-only postings of
    20k docs producing ~2e8 candidate rows per shingle and exhausting
    a 77 GB spill disk. The absolute cut is the pair-expansion budget
    (<= C(max_doc_freq, 2) candidates per shingle at ANY corpus
    size); pass both for the 100 TB shape. Both None = no cut (caller
    takes the boilerplate-bucket risk, fine on bounded corpora)."""
    if max_doc_freq is not None and max_doc_freq < 1:
        raise ValueError(f"{who}: max_doc_freq must be >= 1")
    if max_doc_freq_frac is not None and not (0.0 < max_doc_freq_frac):
        raise ValueError(f"{who}: max_doc_freq_frac must be > 0")


def winnow_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
    max_doc_freq_frac: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate substring-overlap pairs from winnowed fingerprints:
    docs sharing >= ``min_shared`` (post-cut) fingerprints, with the
    shared count.

    Scale shape — TWO shuffles, no self-join (the frac spelling adds
    one small agg over the already-aggregated postings, see below):
    the fingerprint stream aggregates into per-fp posting SETS (one
    keyed agg with map-side combine), over-long lists are dropped
    whole (corpus-wide boilerplate would otherwise blow up one
    posting bucket quadratically — the ngram_jaccard df-cut
    discipline), and pairs expand IN-ARRAY from the bounded surviving
    lists (<= C(cut, 2) pairs per fingerprint by construction) before
    the final (id_a, id_b) count agg. The usual exploded SELF-JOIN
    spelling measured 9 exchanges on the same plan; this one is the
    bounded-posting-list shape a 100 TB dedup actually runs.

    The cut has the shingle_table dual spelling: absolute
    ``max_doc_freq`` (default 20) when the corpus size is known, or
    ``max_doc_freq_frac`` (drop fps shared by more than frac *
    fingerprinted-docs) — the corpus-size-independent choice for a
    growing pipeline; an absolute constant silently stops thinning
    once posting lists outgrow it (the catalogued r10 ngram_jaccard
    post-mortem). Passing ``max_doc_freq_frac`` alone selects the
    relative cut; passing BOTH applies both (min semantics — the r13
    100 TB shape: frac thins the stopword tail at every scale, the
    absolute budget caps in-array pair expansion at C(cut, 2) per
    fingerprint); passing neither applies the absolute default of 20
    (an uncut run — unbounded bucket risk — is max_doc_freq=2**31).
    The frac denominator counts docs appearing in >= 1 posting (the
    r10 ADVICE rule), derived from the AGGREGATED postings frame, so
    no SECOND AGGREGATION is declared over the md5-heavy fingerprint
    stream. Spark does not guarantee the posting agg's exchange is
    reused by the broadcast count subquery (ReusedExchange may not
    fire, especially under AQE), so the fingerprint stream may still
    be evaluated twice on the frac path; persist/checkpoint ``posts``
    before the cut if single computation matters at your scale."""
    _check_df_cut_params("winnow_pairs", max_doc_freq, max_doc_freq_frac)
    if max_doc_freq is None and max_doc_freq_frac is None:
        max_doc_freq = 20  # the documented absolute default
    fps = _winnow_fp_stream(df, k, w, text_col, id_col)
    posts = fps.groupBy("fp").agg(
        F.array_sort(F.collect_set(id_col)).alias("__ids")
    )
    if max_doc_freq_frac is not None:
        total = (
            posts.select(F.explode("__ids").alias("__id"))
            .select(F.countDistinct("__id").alias("__n"))
        )
        posts = posts.crossJoin(F.broadcast(total)).filter(
            F.size("__ids")
            <= F.col("__n") * F.lit(float(max_doc_freq_frac))
        )
    if max_doc_freq is not None:
        # combines with the frac cut (min semantics): the frac rule
        # thins the stopword tail at every scale, the absolute rule
        # caps the in-array expansion at C(max_doc_freq, 2) pairs per
        # fingerprint regardless of corpus size
        posts = posts.filter(F.size("__ids") <= max_doc_freq)
    n = F.size("__ids")
    combos = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = (
        posts.select(combos.alias("__c"))
        .select(F.explode_outer("__c").alias("p"))
        .filter(F.col("p").isNotNull())
    )
    return (
        pairs.select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Soft deduplication by frequency REWEIGHTING instead of removal
    (the SoftDeDup idea, public: He et al. 2024, "SoftDedup: an
    Efficient Data Reweighting Method for Speeding Up Language Model
    Pre-training"): score every document's *commonness* — how
    document-frequent its k-shingles are across the corpus — and emit
    a sampling weight that decays with commonness, so duplicated and
    boilerplate-heavy documents contribute proportionally less to
    training instead of being hard-dropped at an arbitrary Jaccard
    cut. Downstream, feed ``weight_ppm`` to
    ``weighted_deterministic_sample`` (or a loss-weighting data
    loader) — the soft alternative to the pair-based dedup family.

    Definitions (integer-exact by construction, so the whole operator
    hash-replays in any engine — no float anywhere):

    - df(s)           = number of docs containing shingle s
    - df_ppm(s)       = (df(s) * 1_000_000) div n_docs
    - commonness_ppm  = (sum over the doc's distinct shingles of
                         df_ppm) div n_shingles   — mean shingle
                         document-frequency in parts-per-million
    - weight_ppm      = 1_000_000_000_000 div (1_000_000 +
                         commonness_ppm)          — i.e. 1e6/(1+c),
                         the paper's monotone-decay shape on a ppm
                         grid: a fully unique doc (c=0) weighs
                         1_000_000, a doc of pure corpus-wide
                         boilerplate (c=1e6) weighs 500_000 = half.

    All intermediates fit BIGINT at any realistic scale: df_ppm <=
    1e6, its per-doc sum <= n_shingles * 1e6 (shingle counts are
    document-length-bounded), and the weight numerator is the 1e12
    literal.

    Scale shape — the operator's whole point at 100 TB: a handful of
    LINEAR keyed shuffles (shingle-df agg, df join-back on shingle,
    per-doc agg; the corpus count is a 1-row agg on the raw scan) and
    ZERO pair generation. Every pair-based near-dup operator
    in this module is quadratic in posting-list size and needs df
    cuts to survive; commonness is a first-moment statistic, so the
    posting list never expands — corpus-wide boilerplate shingles
    cost exactly one join row per occurrence. The shingle join-back
    is inverted-index-shaped (common-shingle skew is AQE's skew-join
    case). Docs with < k words have no shingles and are absent, as in
    lm_perplexity.

    Output: (id, n_shingles, commonness_ppm, weight_ppm), all bigint.
    """
    sh = shingle_table(df, text_col, id_col, k)
    # the shingled-corpus count WITHOUT a third corpus explode: a doc
    # produces >= 1 shingle iff it has >= k words (null text splits to
    # null, size(null) = -1, excluded on both engines) — a 1-row agg
    # over the raw scan instead of countDistinct over the exploded
    # pairs. Assumes ids unique per row (the documents-table
    # contract, same as the re-fetch guard classes elsewhere).
    n_docs = df.agg(
        F.sum(
            F.when(F.size(F.split(F.col(text_col), " ")) >= k, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("__n_docs")
    )
    freq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "shingle",
            F.expr("(__df * CAST(1000000 AS BIGINT)) div __n_docs").alias(
                "__df_ppm"
            ),
        )
    )
    # freq is VOCABULARY-sized (one row per distinct shingle) and must
    # never broadcast: Catalyst's post-aggregate size estimate reads
    # small, but at gen1 the materialized hash relation was already
    # 300+ MiB (spilled to disk) and at 100 TB it would OOM every
    # executor. shuffle_hash pins the inverted-index shape — both
    # sides shuffle on the shingle key, freq builds the (smaller)
    # hash side, AQE still handles common-shingle skew.
    return (
        sh.join(freq.hint("shuffle_hash"), "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("__df_ppm").alias("__s"),
        )
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.expr("__s div n_shingles").alias("commonness_ppm"),
            F.expr(
                "CAST(1000000000000 AS BIGINT)"
                " div (CAST(1000000 AS BIGINT) + (__s div n_shingles))"
            ).alias("weight_ppm"),
        )
    )
