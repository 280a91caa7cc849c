"""Datapipe operator tests: dedup funnel, similarity search paths,
text stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cubert_spark.datapipe import curation, dedup, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different words entirely here now"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).collect()
    by_rep = {r["rep_id"]: r["n_copies"] for r in out}
    assert by_rep[1] == 2 and by_rep[2] == 1 and by_rep[3] == 1


def test_ngram_jaccard(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jac"] for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5
    assert all(3 not in p for p in pairs)


def test_shingle_cut_relative_matches_absolute(docs, spark):
    """max_doc_freq_frac is the corpus-size-independent spelling of
    the stopword-shingle cut (r10 SCALE.md ngram_jaccard post-mortem):
    at a known corpus size the two must keep the identical shingle
    set, the relative cut must actually drop the high-df tail, and
    mixing the two spellings raises."""
    import pytest

    n_docs = docs.count()
    absolute = dedup.shingle_table(docs, max_doc_freq=2)
    relative = dedup.shingle_table(docs, max_doc_freq_frac=2.0 / n_docs)
    key = lambda df: {(r["doc_id"], r["shingle"]) for r in df.collect()}  # noqa: E731
    assert key(absolute) == key(relative)
    uncut = key(dedup.shingle_table(docs))
    assert key(relative) < uncut  # df=3 shingles (docs 1,2,4 overlap) dropped

    # the cut flows through ngram_jaccard_pairs with self-consistent
    # semantics: the df=3 shingles (shared by docs 1,2,4) are gone,
    # so (1,2) no longer intersects, while the exact dup (1,4) still
    # scores 1.0 on its surviving df=2 shingle
    pairs = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in dedup.ngram_jaccard_pairs(
            docs, 0.5, max_doc_freq_frac=2.0 / n_docs
        ).collect()
    }
    assert pairs.get((1, 4)) == 1.0  # identical post-cut shingle sets

    # dual cut (r13): both spellings combine with MIN semantics — the
    # absolute budget binds when it is tighter than frac * corpus
    both = dedup.shingle_table(docs, max_doc_freq=2, max_doc_freq_frac=0.9)
    only_abs = dedup.shingle_table(docs, max_doc_freq=2)
    assert sorted(map(tuple, both.collect())) == sorted(
        map(tuple, only_abs.collect())
    )
    with pytest.raises(ValueError, match="must be"):
        dedup.shingle_table(docs, max_doc_freq=0)

    # dirty-data denominator (r10 ADVICE): null / too-short rows must
    # NOT inflate n_docs — the fraction is of the SHINGLED corpus, so
    # padding the input with unshingleable rows leaves the cut (and
    # the kept shingle set) unchanged
    dirty = docs.unionAll(
        spark.createDataFrame(
            [(90, None), (91, ""), (92, "ab")], "doc_id long, text string"
        )
    )
    assert key(dedup.shingle_table(dirty, max_doc_freq_frac=2.0 / n_docs)) == key(
        relative
    )


def test_minhash_lsh(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()}
    assert (1, 4) in pairs  # exact dup always collides in every band
    assert all(3 not in p for p in pairs)


def test_simhash(docs):
    out = {r["doc_id"]: r["simhash"] for r in
           docs.select("doc_id", dedup.simhash32(F.col("text")).alias("simhash")).collect()}
    assert out[1] == out[4]  # identical text -> identical fingerprint
    # near-dup hamming distance small
    ham = bin(out[1] ^ out[2]).count("1")
    assert ham <= 8
    assert 0 <= out[3] < 2 ** 32


def test_similarity_paths_agree(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    exact = similarity.cosine_topk(df, df.filter("vec_id < 3"), k=3)
    got = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in exact.collect()}
    assert len(got) == 9
    fast = similarity.cosine_topk_fast(df, df.filter("vec_id < 3").toPandas(), k=3)
    got_fast = {(r["query_id"], r["rnk"]): r["neighbor_id"] for r in fast.collect()}
    assert got == got_fast  # float64 GEMM agrees with decimal-exact path on ranks


def test_exact_scorers_fail_fast_on_oversized_query_side(spark):
    """The anchors/queries-broadcast contract is enforced, not just
    documented (r8 VERDICT task 8): an oversized query side raises
    BEFORE any |Q| x |C| pair forms, naming the scale alternatives;
    max_queries=None is the explicit override."""
    import pytest

    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="ivf_topk"):
        similarity.cosine_topk(df, df, k=2, max_queries=10)
    with pytest.raises(ValueError, match="max_queries=10"):
        similarity.hard_negatives(df, df, k=2, max_queries=10)
    # at/under the cap and with the explicit override: plans build+run
    assert similarity.cosine_topk(df, df.limit(3), k=2, max_queries=3).count() == 6
    assert similarity.cosine_topk(df, df.limit(3), k=2, max_queries=None).count() == 6
    # known_count amortization (r10 VERDICT task 4): the bound is
    # checked driver-side with NO probe job — an over-cap known_count
    # raises at plan-build time, an under-cap one skips the probe.
    with pytest.raises(ValueError, match="known_count=11"):
        similarity.cosine_topk(df, df, k=2, max_queries=10, known_count=11)
    assert (
        similarity.cosine_topk(df, df.limit(3), k=2, max_queries=10, known_count=3)
        .count() == 6
    )
    # SPARK_GRAFT_VERIFY_KNOWN_COUNT=1 (r11 ADVICE): re-arms the probe
    # against the asserted bound so a STALE known_count raises instead
    # of silently disabling the fail-fast.
    import os

    os.environ["SPARK_GRAFT_VERIFY_KNOWN_COUNT"] = "1"
    try:
        with pytest.raises(ValueError, match="STALE"):
            similarity.cosine_topk(df, df, k=2, max_queries=100, known_count=3)
        # a truthful known_count still passes under verification
        assert (
            similarity.cosine_topk(
                df, df.limit(3), k=2, max_queries=10, known_count=3
            ).count() == 6
        )
    finally:
        del os.environ["SPARK_GRAFT_VERIFY_KNOWN_COUNT"]


def test_lsh_bucketed_recall(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(10, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, [float(x) for x in v]))
        rows.append((i * 2 + 1, [float(x) for x in v + rng.normal(scale=0.01, size=8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.lsh_bucketed_topk(df, df.filter("vec_id % 2 = 0"), k=1, num_planes=4)
    got = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    hits = sum(1 for q, n in got.items() if n == q + 1)
    assert hits >= 6  # near-identical twin lands in the same bucket usually

    # multi-probe: flipping the 2 smallest-margin planes must find at
    # least every twin the single-bucket probe found, and lift recall
    # to a firm floor at the same num_planes
    mp = similarity.lsh_bucketed_topk(
        df, df.filter("vec_id % 2 = 0"), k=1, num_planes=4, multi_probe=2
    )
    got_mp = {r["query_id"]: r["neighbor_id"] for r in mp.collect()}
    hits_mp = sum(1 for q, n in got_mp.items() if n == q + 1)
    assert hits_mp >= hits
    assert hits_mp >= 9  # recall floor with probing (10 twin pairs)


def test_embedding_neardup_pairs(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.normal(size=(8, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, [float(x) for x in v]))
        # near-identical twin: cosine ~1 with its even partner
        rows.append((i * 2 + 1, [float(x) for x in v + rng.normal(scale=0.005, size=16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.embedding_neardup_pairs(df, threshold=0.99, num_planes=3, seed=1)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # canonical ordering and threshold respected
    assert all(a < b for a, b in pairs)
    for r in out.collect():
        assert r["cos"] >= 0.99
    # twins land in the same bucket for most pairs (recall < 1 by design)
    twin_hits = sum(1 for a, b in pairs if b == a + 1 and a % 2 == 0)
    assert twin_hits >= 6
    # no random cross-pair sneaks above the threshold
    assert all(b == a + 1 for a, b in pairs)


def test_textstats(docs):
    q = textstats.quality_features(docs)
    r = {x["doc_id"]: x for x in q.collect()}
    assert r[1]["n_tokens"] == 9
    assert r[1]["stopword_ratio"] == pytest.approx(2 / 9)
    lang = {x["doc_id"]: x["lang_pred"] for x in textstats.language_id(docs).collect()}
    assert lang[1] == "en"
    fp = {x["doc_id"]: x["fp"] for x in textstats.fingerprint(docs).collect()}
    assert fp[1] == fp[4] and fp[1] != fp[3]


def test_connected_components(spark):
    from cubert_spark.datapipe import components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 10), (20, 21)],
        "id_a long, id_b long",
    )
    out = {r["id"]: r["component"] for r in
           components.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_clusters_chain(spark, docs):
    """A chain a-b, b-c must collapse into ONE cluster even though a-c
    was never emitted as a pair (the transitive case pairwise dedup
    alone gets wrong)."""
    from cubert_spark.datapipe import components

    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")
    out = {r["doc_id"]: r["rep_id"] for r in
           components.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 4: 1}


def test_deterministic_sample_stable(spark):
    from cubert_spark.datapipe import sampling

    df = spark.range(2000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in sampling.deterministic_sample(df, "k", 0.3).collect())
    b = sorted(
        r["k"]
        for r in sampling.deterministic_sample(df.repartition(7), "k", 0.3).collect()
    )
    assert a == b  # partition-independent
    assert 0.25 < len(a) / 2000 < 0.35
    # salt decorrelates
    c = sorted(r["k"] for r in sampling.deterministic_sample(df, "k", 0.3, "x").collect())
    assert a != c


def test_train_test_split_disjoint_exhaustive(spark):
    from cubert_spark.datapipe import sampling

    df = spark.range(1000).withColumnRenamed("id", "k")
    train, test = sampling.train_test_split(df, "k", 0.2)
    tr = {r["k"] for r in train.collect()}
    te = {r["k"] for r in test.collect()}
    assert tr.isdisjoint(te) and len(tr) + len(te) == 1000
    assert 0.15 < len(te) / 1000 < 0.25


def test_stratified_sample(spark):
    from cubert_spark.datapipe import sampling
    from pyspark.sql import functions as F

    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).cast("string").alias("s")
    )
    out = sampling.stratified_deterministic_sample(df, "k", "s", {"true": 0.1})
    counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert counts["false"] == 1000  # untouched stratum
    assert 50 < counts["true"] < 150


def test_ivf_topk_recall(spark):
    """IVF ANN: on well-separated clusters, probing nprobe lists must
    recover (nearly) the exact brute-force neighbors."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 16)) * 10
    vecs = []
    for i in range(80):
        c = centers[i % 4]
        vecs.append((i, [float(x) for x in c + rng.normal(size=16)]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    qs = df.filter("vec_id < 4")

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(df, qs, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(df, qs, k=5, n_lists=4, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall {recall}"


def test_ivf_exact_topk_consistency(spark):
    """ivf_exact_topk (the deterministic full-path twin): candidates
    come only from the query's probed lists, ranks are dense from 1,
    and with nprobe == n_lists it equals exact brute-force top-k."""
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    qs = df.filter("vec_id < 3")
    cents = similarity.hyperplane_planes(16, 4, seed=7)

    out = similarity.ivf_exact_topk(df, qs, cents, k=5, nprobe=2).collect()
    assigned = {
        r["vec_id"]: r["list_id"]
        for r in similarity.ivf_assign_exact(df, cents).collect()
    }
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert sorted(r["rnk"] for r in rows) == list(range(1, len(rows) + 1))
    # probe-set membership: every neighbor's list must be one of the
    # query's nprobe best lists (recompute probe order in numpy)
    cmat = np.asarray(cents)
    emb = {i: np.asarray(v) for i, v in vecs}
    for r in out:
        dots = cmat @ emb[r["query_id"]]
        probe_lists = list(np.lexsort((np.arange(len(cents)), -dots))[:2])
        assert assigned[r["neighbor_id"]] in probe_lists, r
    # full probe == exact brute force
    full = {
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in similarity.ivf_exact_topk(df, qs, cents, k=5, nprobe=4).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in similarity.cosine_topk(df, qs, k=5).collect()
    }
    assert full == exact


def test_ivf_build_reuse(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    assigned, centroids = similarity.ivf_build(df, n_lists=3)
    assert len(centroids) == 3 and len(centroids[0]) == 8
    lists = {r["list_id"] for r in assigned.select("list_id").distinct().collect()}
    assert lists <= {0, 1, 2}
    out = similarity.ivf_topk(
        df, df.filter("vec_id < 2"), k=3, assigned=assigned, centroids=centroids
    )
    assert out.groupBy("query_id").count().count() == 2


def test_minhash_hash_fn_variants_agree(docs):
    """xxhash64 and md5 LSH paths verify with exact Jaccard, so both
    must find the exact-dup and near-dup pairs on clean fixtures."""
    for fn in ("md5", "xxhash64"):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(docs, 0.5, hash_fn=fn).collect()
        }
        assert (1, 4) in pairs, fn
        assert all(3 not in p for p in pairs), fn


def test_repetition_stats(spark):
    from cubert_spark.datapipe import textstats

    d = spark.createDataFrame(
        [(1, "a b\na b\nc d"), (2, "x y x y x y"), (3, "all unique words here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.repetition_stats(d).collect()}
    assert out[1]["dup_line_frac"] == pytest.approx(1 / 3)
    # "x y" occurs 3 of 5 bigram slots
    assert out[2]["top_bigram_frac"] == pytest.approx(3 / 5)
    assert out[3]["dup_line_frac"] == 0.0
    assert out[3]["top_bigram_frac"] == pytest.approx(1 / 3)


def test_pii_counts(spark):
    from cubert_spark.datapipe import textstats

    d = spark.createDataFrame(
        [(1, "reach a.b@x.io and c@d.org, call +1 (555) 123-4567, host 10.0.0.1"),
         (2, "nothing sensitive here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.pii_counts(d).collect()}
    assert out[1]["n_emails"] == 2 and out[1]["n_phones"] == 1 and out[1]["n_ipv4"] == 1
    assert out[2]["n_emails"] == out[2]["n_phones"] == out[2]["n_ipv4"] == 0


def test_sampling_null_keys_not_dropped(spark):
    """Null keys must land deterministically on one side of every
    split, never vanish from both."""
    from cubert_spark.datapipe import sampling

    df = spark.createDataFrame([(None,), ("a",), ("b",)], "k string")
    tr, te = sampling.train_test_split(df, "k", 0.5)
    assert tr.count() + te.count() == 3


def test_weighted_sample_properties(docs):
    from cubert_spark.datapipe import sampling
    from pyspark.sql import functions as F

    # weight 1 keeps everything; weight 0 keeps nothing
    all_kept = sampling.weighted_deterministic_sample(
        docs, "doc_id", F.lit(1.0))
    assert all_kept.count() == docs.count()
    none_kept = sampling.weighted_deterministic_sample(
        docs, "doc_id", F.lit(0.0))
    assert none_kept.count() == 0
    # deterministic: same call, same rows, regardless of partitioning
    w = F.octet_length("text") / F.lit(30.0)
    a = {r["doc_id"] for r in
         sampling.weighted_deterministic_sample(docs, "doc_id", w).collect()}
    b = {r["doc_id"] for r in sampling.weighted_deterministic_sample(
        docs.repartition(7), "doc_id", w).collect()}
    assert a == b


def test_per_group_sample_caps_and_determinism(spark):
    from cubert_spark.datapipe import sampling
    from pyspark.sql import functions as F

    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    out = sampling.per_group_deterministic_sample(df, "k", "g", 10)
    counts = {r["g"]: r["n"] for r in
              out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert all(n == 10 for n in counts.values()) and len(counts) == 3
    a = sorted(r["k"] for r in out.collect())
    b = sorted(r["k"] for r in sampling.per_group_deterministic_sample(
        df.repartition(11), "k", "g", 10).collect())
    assert a == b
    # a group smaller than the budget keeps everything
    small = sampling.per_group_deterministic_sample(
        df.filter("k < 4"), "k", "g", 10)
    assert small.count() == 4


def test_ngram_novelty(spark):
    """Hand-checkable: doc 1 and 2 share 'a b' and 'b c'; doc 1's
    'c d' is unique; doc 3 has one word (no bigrams)."""
    from cubert_spark.datapipe import textstats

    rows = [(1, "a b c d"), (2, "a b c"), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.ngram_novelty(df).collect()}
    assert out[1]["n_bigrams"] == 3 and out[1]["n_unique_here"] == 1
    assert abs(out[1]["novelty"] - 1 / 3) < 1e-15
    assert out[2]["n_bigrams"] == 2 and out[2]["n_unique_here"] == 0
    assert out[3]["n_bigrams"] == 0 and out[3]["novelty"] == 0.0


# --- BPE tokenizer (datapipe.bpe) --------------------------------------------

def test_bpe_train_classic_example(spark):
    """The Sennrich running example: 'est</w>' assembles within a few
    merges on a corpus dominated by -est suffixes."""
    from cubert_spark.datapipe import bpe

    rows = [(i, "lowest newest widest " * 3) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.bpe_train(df, num_merges=10)
    joined = {a + b for a, b in merges}
    assert "est" in joined or ("es" in joined and "t</w>" in joined)
    # training is deterministic
    assert merges == bpe.bpe_train(df, num_merges=10)


def test_bpe_tokenize_matches_reference(spark):
    """Distributed apply == pure-Python reference encode, across
    partitionings; token counts consistent."""
    from cubert_spark.datapipe import bpe

    rows = [
        (1, "the quick brown fox"),
        (2, "the quicker browner foxes"),
        (3, ""),
        (4, "the the the quick quick"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.bpe_train(df, num_merges=30)
    for parts in (1, 7):
        got = {
            r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
            for r in bpe.bpe_tokenize(df.repartition(parts), merges).collect()
        }
        for i, text in rows:
            ref = bpe.bpe_encode_text(text, merges)
            assert got[i] == (ref, len(ref)), (i, got[i], ref)


def test_bpe_oracle_cte_matches_encoder():
    """The bpe_apply_exact oracle's recursive-CTE merge loop produces
    the exact per-word symbol sequences of bpe_encode_word (greedy
    lowest-rank-first, one merge per step) for the frozen model."""
    import duckdb

    from cubert_spark.datapipe.bpe import bpe_encode_word
    from cubert_spark.queries.datapipe import _BPE_BEST, _BPE_FIXED_MERGES

    words = ["scan", "customer", "the", "a", "sorted", "zzz", "windowed"]
    vals = ", ".join(f"('{w}')" for w in words)
    q = f"""
    WITH RECURSIVE
    dw(word) AS (VALUES {vals}),
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
    )
    SELECT word, syms
    FROM (SELECT word, syms, ({_BPE_BEST}) AS bi FROM steps)
    WHERE bi IS NULL
    """
    ranks = {p: i for i, p in enumerate(_BPE_FIXED_MERGES)}
    got = {w: list(s) for w, s in duckdb.connect().execute(q).fetchall()}
    assert set(got) == set(words)  # every word reaches exactly one terminal state
    for w in words:
        assert got[w] == bpe_encode_word(w, ranks), (w, got[w])


def test_bpe_empty_and_untrained(spark):
    from cubert_spark.datapipe import bpe

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bpe.bpe_train(empty, num_merges=5) == []
    assert bpe.bpe_tokenize(empty, []).count() == 0
    one = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    # zero merges -> pure character + end-of-word tokens
    r = bpe.bpe_tokenize(one, []).collect()[0]
    assert list(r["tokens"]) == ["a", "b", "</w>", "a", "b", "</w>"]


# --- curation (contamination / boilerplate / packing) -----------------------

def test_contamination(spark):
    """Test doc 10 contains train doc 1's shingles verbatim; doc 11 is
    clean. min_shared gates the report."""
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four")],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta unrelated tail"),  # 2 shared 3-grams
            (11, "completely novel content here"),
        ],
        "doc_id long, text string",
    )
    out = {r["test_id"]: r for r in curation.contamination(train, test, min_shared=2).collect()}
    assert set(out) == {10}
    assert out[10]["n_train_docs"] == 1 and out[10]["max_shared"] == 2
    assert curation.contamination(train, test, min_shared=3).count() == 0


def test_remove_boilerplate(spark):
    banner = "SUBSCRIBE TO OUR NEWSLETTER"
    rows = [
        (1, f"{banner}\nreal content one\nmore text"),
        (2, f"{banner}\nreal content two"),
        (3, f"intro line\n{banner}\noutro line"),
        (4, banner),  # all-boilerplate doc survives with empty text
        (5, "no boilerplate at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.remove_boilerplate(df, min_doc_freq=3).collect()}
    assert len(out) == 5  # never drops documents
    assert out[1]["clean_text"] == "real content one\nmore text"
    assert out[3]["clean_text"] == "intro line\noutro line"  # order kept
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 1
    assert out[5]["clean_text"] == "no boilerplate at all" and out[5]["n_removed"] == 0
    assert all(out[i]["n_removed"] == 1 for i in (1, 2, 3))


def test_hashed_linear_score(spark):
    # hand-checkable weights: bucket parity decides sign
    w = [1 if j % 2 == 0 else -1 for j in range(8)]
    df = spark.createDataFrame(
        [(1, "Alpha beta beta"), (2, ""), (3, "???")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.hashed_linear_score(df, w).collect()}
    # margin is the exact sum of per-term bucket weights
    import hashlib

    def bucket(t):
        return int(hashlib.md5(("hls" + t).encode()).hexdigest()[:4], 16) % 8

    expected = w[bucket("alpha")] + 2 * w[bucket("beta")]
    assert out[1]["margin"] == expected
    assert out[1]["n_terms"] == 3
    assert out[1]["score"] == expected / 3
    assert out[1]["pred"] == (expected >= 0)
    # empty / no-term docs: margin 0, score 0.0, pred True
    for d in (2, 3):
        assert out[d]["margin"] == 0 and out[d]["score"] == 0.0 and out[d]["pred"]


def test_mixture_sample(spark):
    from cubert_spark.datapipe import sampling

    rows = [(i, "web") for i in range(2000)] + \
           [(i + 10000, "books") for i in range(400)] + \
           [(i + 20000, "code") for i in range(1000)] + \
           [(i + 30000, "junk") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.mixture_sample(df, {"web": 0.5, "books": 0.2, "code": 0.3})
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # unweighted source dropped entirely
    assert "junk" not in counts
    # books is the scarcest source (400 / 0.2 = cap 2000): kept ~whole
    assert counts["books"] > 360
    # proportions approximate the 50/20/30 target (hash-gate tolerance)
    total = sum(counts.values())
    assert abs(counts["web"] / total - 0.5) < 0.06
    assert abs(counts["code"] / total - 0.3) < 0.06
    # deterministic: re-running selects the identical set
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in sampling.mixture_sample(
        df, {"web": 0.5, "books": 0.2, "code": 0.3}).collect()}
    assert a == b


def test_mixture_sample_absent_source(spark):
    from cubert_spark.datapipe import sampling

    df = spark.createDataFrame(
        [(i, "web") for i in range(100)], "doc_id long, source string"
    )
    # 'books' has zero rows: it must not zero out the whole mix
    out = sampling.mixture_sample(df, {"web": 0.5, "books": 0.5})
    assert out.count() == 100  # web kept whole (it's the only constraint)


def test_tfidf_top_terms(spark):
    rows = [
        (1, "apple apple banana shared shared shared"),
        (2, "banana cherry shared shared"),
        (3, "shared durian"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # every doc gets <= k rows, rnk is 1..k dense per doc
    for doc, rs in by_doc.items():
        assert [r["rnk"] for r in sorted(rs, key=lambda r: r["rnk"])] == list(
            range(1, len(rs) + 1)
        )
    # 'shared' is in every doc (df=3, idf=1): never the top pick when a
    # rarer term is present, despite its high tf in doc 1
    top1 = {d: sorted(rs, key=lambda r: r["rnk"])[0]["term"] for d, rs in by_doc.items()}
    assert top1[1] == "apple"  # tf=2, df=1 -> score 6 > shared's 3
    assert top1[3] == "durian"
    # df counts documents, not occurrences
    shared = [r for r in out if r["term"] == "shared"]
    assert all(r["df"] == 3 for r in shared)


def test_paragraph_dedup(spark):
    rows = [
        (1, "alpha\nshared para\nbeta"),
        (2, "shared para\ngamma"),  # repeat of doc 1's para -> dropped
        (3, "shared para"),  # fully duplicated doc survives empty
        (4, "delta\n\nepsilon"),  # blank line is formatting, kept
        (5, "delta"),  # 'delta' first occurred in doc 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.paragraph_dedup(df).collect()}
    assert len(out) == 5  # never drops documents
    assert out[1]["clean_text"] == "alpha\nshared para\nbeta"  # first wins
    assert out[2]["clean_text"] == "gamma" and out[2]["n_removed"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 1
    assert out[4]["clean_text"] == "delta\n\nepsilon" and out[4]["n_removed"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_removed"] == 1


def test_paragraph_dedup_within_doc_repeat(spark):
    # a paragraph repeated INSIDE one doc keeps only its first position
    df = spark.createDataFrame(
        [(7, "x\ny\nx\nz")], "doc_id long, text string"
    )
    row = curation.paragraph_dedup(df).collect()[0]
    assert row["clean_text"] == "x\ny\nz" and row["n_removed"] == 1


def test_profile_table(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1.5), (2, None, 2.5)],
        "k long, s string, v double",
    )
    prof = {r["col_name"]: r for r in curation.profile_table(df).collect()}
    assert set(prof) == {"k", "s", "v"}
    assert all(r["n_rows"] == 3 for r in prof.values())
    assert prof["k"]["n_nulls"] == 0 and prof["k"]["n_distinct"] == 2
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["s"]["min_val"] == "a" and prof["s"]["max_val"] == "b"
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["min_val"] == "1.5"


def test_blocklist_filter(spark):
    rows = [
        (1, "the BIG Table of data"),   # case-insensitive hit
        (2, "costs $5.00 (really)"),    # regex specials matched literally
        (3, "clean document"),
        (4, "dup first then big table"),  # first match in doc order wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.blocklist_filter(
        df, ["big table", "$5.00 (really)", "dup"]).collect()}
    assert out[1]["blocked"] and out[1]["first_match"] == "BIG Table"
    assert out[2]["blocked"] and out[2]["first_match"] == "$5.00 (really)"
    assert not out[3]["blocked"] and out[3]["first_match"] is None
    assert out[4]["first_match"] == "dup"


def test_normalize_text(spark):
    dirty = [
        (1, "  a\tb\r\nc  \n\n\n\nd\x01e  "),
        (2, "already clean"),
        (3, ""),
    ]
    df = spark.createDataFrame(dirty, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.normalize_text(df).collect()}
    # control char stripped, CRLF folded, runs collapsed, edges trimmed
    assert out[1]["clean_text"] == "a b\nc\n\nde"
    assert out[1]["n_chars_before"] == len(dirty[0][1])
    assert out[1]["n_chars_after"] == len("a b\nc\n\nde")
    assert out[2]["clean_text"] == "already clean"
    assert out[3]["clean_text"] == "" and out[3]["n_chars_after"] == 0


def test_paragraph_dedup_model_check(spark):
    """Exact agreement with a pure-Python first-occurrence-wins model
    on a seeded random corpus (repeats within and across docs, blank
    lines, empty docs)."""
    import random

    rng = random.Random(99)
    lines_pool = [f"l{i}" for i in range(12)]
    rows = []
    for doc_id in range(60):
        n = rng.randint(0, 6)
        ls = [rng.choice(lines_pool + ["", " "]) for _ in range(n)]
        rows.append((doc_id, "\n".join(ls)))

    # reference model
    seen: set[str] = set()
    expected = {}
    for doc_id, text in rows:  # doc order = id order here
        out = []
        removed = 0
        for para in text.split("\n"):
            if para.strip() == "":
                out.append(para)
            elif para not in seen:
                seen.add(para)
                out.append(para)
            else:
                removed += 1
        expected[doc_id] = ("\n".join(out), removed)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in curation.paragraph_dedup(df).collect()
    }
    assert got == expected


def test_sequence_pack(spark):
    """Offsets are the cumulative token count in doc_id order even
    across shard boundaries (shard_size=2 forces the two-level
    prefix-sum path), and bins mark straddles."""
    rows = [(i, " ".join(["tok"] * n)) for i, n in enumerate([3, 4, 2, 5, 6, 1, 7])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in curation.sequence_pack(df, capacity=8, shard_size=2).collect()
    }
    counts = [3, 4, 2, 5, 6, 1, 7]
    off = 0
    for i, n in enumerate(counts):
        assert out[i]["start_offset"] == off, (i, out[i])
        assert out[i]["n_tokens"] == n
        assert out[i]["start_bin"] == off // 8
        assert out[i]["end_bin"] == (off + n - 1) // 8
        off += n
    # doc 1 spans tokens [3, 7) -> bin 0; doc 3 spans [9, 14) -> bin 1;
    # doc 4 spans [14, 20) -> straddles bins 1..2
    assert out[4]["start_bin"] == 1 and out[4]["end_bin"] == 2


def test_quantize_embeddings_roundtrip(spark):
    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # all-zero vector
        (3, [127.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings(df).collect()}
    # codes bounded, extreme value maps to ±127, dequant error <= scale/2
    assert out[1]["codes"] == [64, -127, 32, 0]
    s = out[1]["scale"]
    for orig, code in zip(rows[0][1], out[1]["codes"]):
        assert abs(code * s - orig) <= s / 2 + 1e-12
    assert out[2]["codes"] == [0, 0, 0, 0] and out[2]["scale"] == 0.0
    assert out[3]["codes"] == [127]


def test_bpe_merges_roundtrip(tmp_path):
    from cubert_spark.datapipe import bpe

    merges = bpe.bpe_train_texts(["low lower lowest low low"], 10)
    p = str(tmp_path / "merges.txt")
    bpe.save_merges(merges, p)
    assert bpe.load_merges(p) == merges
    # tokenization under the reloaded model is identical
    ranks = {m: i for i, m in enumerate(merges)}
    ranks2 = {m: i for i, m in enumerate(bpe.load_merges(p))}
    assert bpe.bpe_encode_word("lowest", ranks) == bpe.bpe_encode_word("lowest", ranks2)


def test_fuzzy_pairs_symspell(spark):
    """Deletion-neighborhood blocking finds exactly the distance<=1
    pairs: substitution, insertion, deletion, and identical strings —
    and never via a cartesian product."""
    rows = [
        (1, "smith"), (2, "smyth"),   # substitution
        (3, "smiths"),               # insertion vs 1
        (4, "smit"),                 # deletion vs 1
        (5, "smith"),                # identical (dist 0)
        (6, "jones"),                # unrelated
    ]
    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in dedup.fuzzy_pairs(df).collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 1
    assert got[(1, 5)] == 0
    assert not any(6 in p for p in got)
    # smyth vs smiths is distance 2: must NOT appear
    assert (2, 3) not in got
    from cubert_spark.plans import explain_str

    plan = explain_str(dedup.fuzzy_pairs(df), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_pairs_posting_join_never_broadcast(spark):
    """The variant (posting) self-join must stay sort-merge: the
    16-byte posting projection makes Catalyst's size estimate tiny,
    but the estimator does not model Generate's ~len^2/2 fan-out — a
    broadcast of the exploded posting table is a multi-GB hash
    relation at gen1 scale (measured: 3/3 executor-heap OOMs at
    local[32] before the merge hint pinned this)."""
    import pyspark.sql.functions as F

    from cubert_spark.datapipe import dedup

    df = spark.range(200).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("name"), F.col("id").cast("string")).alias("c_name"),
    )
    for kwargs in ({}, {"max_dist": 2}):
        plan = dedup.fuzzy_pairs(df, **kwargs)._jdf.queryExecution(
        ).executedPlan().treeString()
        posting = [
            ln for ln in plan.splitlines()
            if "Join" in ln and "__vk" in ln
        ]
        assert posting, plan
        assert all("SortMergeJoin" in ln for ln in posting), posting


def test_chunk_documents(spark):
    import pytest as _pytest

    # 10 tokens, chunk 4, overlap 2 -> starts 1,3,5,7 (stride 2)
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    out = curation.chunk_documents(df, chunk_tokens=4, overlap=2)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
         for r in out.collect())
    )
    doc1 = [r for r in rows if r[0] == 1]
    assert [r[2] for r in doc1] == [
        "t0 t1 t2 t3", "t2 t3 t4 t5", "t4 t5 t6 t7", "t6 t7 t8 t9",
    ]
    assert all(r[3] == 4 for r in doc1)
    # every token appears in at least one chunk; consecutive chunks overlap by 2
    for a, b in zip(doc1, doc1[1:]):
        assert a[2].split()[-2:] == b[2].split()[:2]
    # short doc -> one partial chunk; empty/whitespace docs -> none
    assert [r[2:] for r in rows if r[0] == 2] == [("a b", 2)]
    assert not [r for r in rows if r[0] in (3, 4)]
    # tail shorter than a full window still covered
    df2 = spark.createDataFrame([(9, " ".join(f"x{i}" for i in range(5)))],
                                "doc_id long, text string")
    got = sorted(r["chunk_text"] for r in
                 curation.chunk_documents(df2, chunk_tokens=4, overlap=2).collect())
    assert got == ["x0 x1 x2 x3", "x2 x3 x4"]
    with _pytest.raises(ValueError):
        curation.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_hashed_bow_embedding(spark):
    import math

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "???")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.hashed_bow_embedding(df, dim=8).collect()}
    v = out[1]["vec"]
    assert len(v) == 8 and out[1]["n_terms"] == 3
    assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-12  # unit norm
    # alpha counted twice, beta once: exact expected vector from the
    # same md5 bucketing (collision-aware)
    import hashlib

    def bucket(t):
        return int(hashlib.md5(("hbe" + t).encode()).hexdigest()[:4], 16) % 8

    counts = [0] * 8
    counts[bucket("alpha")] += 2
    counts[bucket("beta")] += 1
    norm = math.sqrt(sum(c * c for c in counts))
    assert v == [c / norm for c in counts]
    for d in (2, 3):  # no terms -> zero vector
        assert out[d]["vec"] == [0.0] * 8 and out[d]["n_terms"] == 0


def test_chunk_embed_ann_pipeline(spark):
    """End-to-end retrieval mini-pipeline: chunk -> hashed embed ->
    exact cosine top-k finds the chunk sharing the query's vocabulary."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(["spark shuffle exchange partition"] * 8)),
            (2, " ".join(["grape banana orange melon"] * 8)),
        ],
        "doc_id long, text string",
    )
    chunks = curation.chunk_documents(docs, chunk_tokens=8, overlap=2)
    emb = textstats.hashed_bow_embedding(
        chunks.select(
            (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("doc_id"),
            F.col("chunk_text").alias("text"),
        ),
        dim=16,
    ).select(F.col("doc_id").alias("vec_id"), F.col("vec").alias("embedding"))
    q = textstats.hashed_bow_embedding(
        spark.createDataFrame([(9_000_000, "banana melon grape")], "doc_id long, text string"),
        dim=16,
    ).select(F.col("doc_id").alias("vec_id"), F.col("vec").alias("embedding"))
    top = similarity.cosine_topk(emb.unionByName(q), q, k=3).collect()
    # every retrieved neighbor is a fruit chunk (doc 2), never doc 1
    assert top and all(2000 <= r["neighbor_id"] < 3000 for r in top)


def test_bm25_matches_python_model(spark):
    """bm25_search against a pure-Python Okapi BM25 (k1=1.2, b=0.75,
    idf=(N+1)/(df+0.5)) on a tiny corpus with hand-checkable stats —
    independent of the DuckDB oracle."""
    import re as _re

    from cubert_spark.datapipe.textstats import bm25_search

    docs = [
        (1, "cat dog cat"),
        (2, "dog fish"),
        (3, "cat cat cat cat"),
        (4, "bird"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.query_id, r.doc_id): (r.n_hit, r.score, r.rnk)
        for r in bm25_search(df, [(0, "cat"), (1, "dog fish")], k=10).collect()
    }

    tf = {}
    for did, text in docs:
        for t in _re.findall(r"[a-z0-9]+", text.lower()):
            tf[(did, t)] = tf.get((did, t), 0) + 1
    dl = {did: sum(v for (d, _), v in tf.items() if d == did) for did, _ in docs}
    dfreq = {}
    for (_, t) in tf:
        dfreq[t] = dfreq.get(t, 0) + 1
    n, tt = len(docs), sum(dl.values())

    def score(did, terms):
        s = 0.0
        hits = 0
        for t in sorted(terms):
            if (did, t) not in tf:
                continue
            hits += 1
            f = tf[(did, t)]
            num = 44 * f * tt * (n + 1)
            den = (10 * tt * f + 3 * tt + 9 * dl[did] * n) * (2 * dfreq[t] + 1)
            s += num / den
        return hits, s

    expect = {}
    for qid, terms in ((0, ["cat"]), (1, ["dog", "fish"])):
        scored = sorted(
            (
                (did, *score(did, terms))
                for did, _ in docs
                if score(did, terms)[0] > 0
            ),
            key=lambda x: (-x[2], x[0]),
        )
        for rnk, (did, hits, s) in enumerate(scored, 1):
            expect[(qid, did)] = (hits, s, rnk)

    assert got == expect


def test_hll_accuracy_and_mergeability(spark):
    """HLL estimate within the expected relative-error band of the
    exact cardinality, and registers are max-mergeable: merging the
    sketches of two halves equals the sketch of the whole."""
    from cubert_spark.catalog import load_table
    from cubert_spark.datapipe.sketches import hll_estimate, hll_registers

    o = load_table(spark, "/root/testdata/sf0.01", "orders")
    truth = o.select("o_custkey").distinct().count()
    est = hll_estimate(o, "o_custkey").collect()[0].est
    # sigma ~ 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert abs(est - truth) / truth < 0.2, (est, truth)

    lo = o.filter(F.col("o_orderkey") % 2 == 0)
    hi = o.filter(F.col("o_orderkey") % 2 == 1)
    merged = (
        hll_registers(lo, "o_custkey").unionAll(hll_registers(hi, "o_custkey"))
        .groupBy("bucket").agg(F.max("reg").alias("reg"))
    )
    whole = hll_registers(o, "o_custkey")
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_cms_estimate_is_upper_bound(spark):
    """CMS point estimates never undercount (the sketch's defining
    guarantee), and with 4x256 counters over ~200 distinct keys the
    overshoot stays moderate."""
    from cubert_spark.catalog import load_table
    from cubert_spark.datapipe.sketches import cms_estimate, cms_sketch

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select("l_partkey")
    sk = cms_sketch(li, "l_partkey")
    truth = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms_estimate(sk, truth.select("l_partkey"), "l_partkey")
    rows = truth.join(est, "l_partkey").collect()
    assert rows
    assert all(r.est >= r.true_cnt for r in rows)
    total = li.count()
    # eps = e/width: overshoot per key < eps * stream length (whp)
    import math

    eps = math.e / 256
    assert all(r.est - r.true_cnt <= eps * total * 2 for r in rows)


def test_pagerank_matches_python_integer_model(spark):
    """pagerank's integer quantization makes it bit-replayable in
    plain Python: run the same floor-arithmetic iterations on a small
    hand graph and demand EXACT equality, plus mass sanity."""
    from cubert_spark.datapipe.components import pagerank

    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 1), (1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_q for r in pagerank(df, iterations=3, scale=10**6).collect()}

    scale, n = 10**6, 4
    out = {}
    for u, v in edges:
        out.setdefault(u, []).append(v)
    r = {u: scale // n for u in (1, 2, 3, 4)}
    base = (15 * scale) // (100 * n)
    for _ in range(3):
        acc = {u: 0 for u in r}
        for u, vs in out.items():
            c = r[u] // len(vs)
            for v in vs:
                acc[v] += c
        r = {u: base + (85 * acc[u]) // 100 for u in r}
    assert got == r
    assert sum(got.values()) <= scale  # floored mass never exceeds total


def test_fuzzy_pairs_depth2(spark):
    """max_dist=2 finds transpositions-as-two-edits, double
    substitutions, and 2-char insertions that depth-1 misses — still
    product-free."""
    rows = [
        (1, "smith"), (2, "smyth"),    # d1
        (3, "smythe"),                 # d2 vs 1 (sub + insert)
        (4, "smiht"),                  # transposition = d2 vs 1
        (5, "sm"),                     # far
        (6, "jones"),
    ]
    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in dedup.fuzzy_pairs(df, max_dist=2).collect()}
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2
    assert got[(1, 4)] == 2
    assert got[(2, 3)] == 1
    assert not any(6 in p for p in got)
    assert (1, 5) not in got  # distance 3
    from cubert_spark.plans import explain_str

    plan = explain_str(dedup.fuzzy_pairs(df, max_dist=2), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_pairs_depth2_bruteforce_random(spark):
    """The r16 position-constrained join decomposition (J-A/J-C
    position-free + J-B same-position depth-2) must stay COMPLETE on
    arbitrary variable-length data: cross-check every pair against a
    Python brute-force levenshtein over a dense random corpus (small
    alphabet, lengths 0..6, duplicate strings, a NULL) where every
    edit-script case — subs, ins+del shifts, 1/2-char length deltas —
    occurs many times."""
    import random

    rng = random.Random(20160817)
    rows = [(i, "".join(rng.choice("ab") for _ in range(rng.randint(0, 6))))
            for i in range(60)]
    rows.append((60, None))
    rows.append((61, rows[0][1]))  # duplicate string, distinct id
    df = spark.createDataFrame(rows, "c_custkey long, c_name string")

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (ia, ib): lev(na, nb)
        for ia, na in rows for ib, nb in rows
        if ia < ib and na is not None and nb is not None
        and lev(na, nb) <= 2
    }
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in dedup.fuzzy_pairs(df, max_dist=2).collect()}
    assert got == want


def test_kmv_exact_when_k_covers_and_estimates(spark):
    """KMV set ops: when k >= |A UNION B| the sketch IS the distinct
    set, so union/intersection come back EXACT; with k below, the
    union estimate stays inside the KMV error band (~1/sqrt(k))."""
    from cubert_spark.datapipe.sketches import kmv_set_ops

    a = spark.range(0, 300).selectExpr("id AS k")          # 0..299
    b = spark.range(200, 500).selectExpr("id AS k")        # 200..499
    # exact regime: k=1024 > |A u B| = 500
    r = kmv_set_ops(a, "k", b, "k", k=1024).collect()[0]
    assert r.n == 500
    assert r.union_est == 500.0
    assert r.inter_k == 100 and r.inter_est == 100.0

    # estimate regime: k=256 << |A u B| = 20000, |A ^ B| = 4000
    big_a = spark.range(0, 12000).selectExpr("id AS k")
    big_b = spark.range(8000, 20000).selectExpr("id AS k")
    r2 = kmv_set_ops(big_a, "k", big_b, "k", k=256).collect()[0]
    assert r2.n == 256
    assert abs(r2.union_est - 20000) / 20000 < 0.25, r2.union_est
    assert abs(r2.inter_est - 4000) / 4000 < 0.5, r2.inter_est


def test_kmv_sketch_mergeable(spark):
    """The KMV sketch of a union == k smallest of the concatenated
    per-part sketches (the mergeability that makes it a 100 TB op)."""
    from cubert_spark.datapipe.sketches import kmv_sketch

    lo = spark.range(0, 700).selectExpr("id AS k")
    hi = spark.range(700, 1500).selectExpr("id AS k")
    whole = spark.range(0, 1500).selectExpr("id AS k")
    k = 64
    merged = (
        kmv_sketch(lo, "k", k).unionAll(kmv_sketch(hi, "k", k))
        .orderBy("h").limit(k)
    )
    direct = kmv_sketch(whole, "k", k)
    assert [r.h for r in merged.collect()] == [r.h for r in direct.collect()]


def test_semantic_dedup_keeps_lowest_id_per_neardup_group(spark):
    """semantic_dedup on a hand-built corpus: two clusters of
    near-identical vectors plus isolated singletons — every near-dup
    group keeps exactly its lowest id, singletons all survive, and
    cluster assignment is the exact-argmax rule."""
    from cubert_spark.datapipe.similarity import semantic_dedup

    # centroids on +x and -x axes; near-dup groups hug each axis
    centroids = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    rows = [
        (0, [1.0, 0.01, 0.0, 0.0]),    # group A (cluster 0)
        (1, [1.0, 0.02, 0.0, 0.0]),    # ~dup of 0 -> dropped
        (2, [1.0, 0.0, 0.03, 0.0]),    # ~dup of 0 -> dropped
        (3, [-1.0, 0.01, 0.0, 0.0]),   # group B (cluster 1)
        (4, [-1.0, 0.0, 0.02, 0.0]),   # ~dup of 3 -> dropped
        (5, [0.1, 0.0, 0.0, 1.0]),     # singleton, cluster 0
        (6, [-0.1, 0.0, 0.0, 1.0]),    # singleton, cluster 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id: r.list_id for r in semantic_dedup(df, centroids, 0.99).collect()}
    assert kept == {0: 0, 3: 1, 5: 0, 6: 1}
    # production-arithmetic tier (r13): same rules in double math —
    # identical kept-set and cluster ids wherever margins exceed
    # float error (everywhere on real data; ~1e-16 vs margins ~1e-2)
    fast = {
        r.vec_id: r.list_id
        for r in semantic_dedup(df, centroids, 0.99, exact=False).collect()
    }
    assert fast == kept


def test_semantic_dedup_cluster_bound_blindness(spark):
    """Near-dups that land in DIFFERENT clusters are (by design) not
    compared — the documented SemDeDup recall trade for never running
    all-pairs."""
    from cubert_spark.datapipe.similarity import semantic_dedup

    centroids = [[1.0, 0.0], [-1.0, 0.0]]
    rows = [
        (0, [0.001, 1.0]),   # cluster 0 (tie-to-smallest on dot sign)
        (1, [-0.001, 1.0]),  # nearly identical but cluster 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(r.vec_id for r in semantic_dedup(df, centroids, 0.9).collect())
    assert kept == [0, 1]


def test_jaccard_prefix_matches_bruteforce(spark):
    """Prefix filtering is LOSSLESS for Jaccard >= t (the PPJoin
    prefix principle): results equal the brute-force all-pairs join
    on a seeded synthetic corpus with planted near-dup groups."""
    import itertools
    import random

    from cubert_spark.datapipe.dedup import jaccard_prefix_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for base in range(8):                       # 8 groups x 3 variants
        words = rng.sample(vocab, 12)
        for v in range(3):
            w = list(words)
            if v:                                # perturb 1-2 words
                for _ in range(v):
                    w[rng.randrange(len(w))] = rng.choice(vocab)
            docs.append((base * 3 + v, " ".join(w)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t = 0.6
    got = {
        (r.id_a, r.id_b, round(r.jac, 9))
        for r in jaccard_prefix_pairs(df, t).collect()
    }
    sets = {i: set(txt.split()) for i, txt in docs}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        jac = inter / (len(sets[a]) + len(sets[b]) - inter)
        if jac >= t:
            want.add((a, b, round(jac, 9)))
    assert got == want


def test_jaccard_prefix_indexes_fewer_postings(spark):
    """The point of prefix filtering: the indexed posting volume is a
    strict fraction of the full inverted index's."""
    from cubert_spark.catalog import load_table
    from pyspark.sql import Window

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    tok = (
        d.select(F.col("doc_id"), F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    wfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        tok.join(wfreq, "w")
        .withColumn("pos", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "w")))
        .join(sizes, "doc_id")
    )
    t = 0.9
    full = tok.count()
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    ).count()
    assert prefix < full * 0.35, (prefix, full)


def test_bloom_prune_superset_and_bounded_fp(spark):
    """bloom_prune keeps every true match (no false negatives) and
    the false-positive overshoot stays near the analytic rate."""
    from cubert_spark.operators.bloom import bloom_build, bloom_prune

    keys = spark.range(0, 500).selectExpr("id * 7 AS k")          # sparse keys
    big = spark.range(0, 40000).selectExpr("id AS k", "id AS payload")
    bm = bloom_build(keys, "k", num_bits=65536, num_hashes=3)
    pruned = bloom_prune(big, "k", bm)
    truth = big.join(keys.hint("broadcast"), "k", "left_semi")
    missed = truth.exceptAll(pruned.select("k", "payload")).count()
    assert missed == 0
    fp = pruned.join(keys, "k", "left_anti").count()
    # analytic fp rate ~ (1 - e^(-3*500/65536))^3 ~ 1.1e-5; give 100x slack
    assert fp <= 40000 * 1.1e-3, fp


def test_bloom_prune_fast_superset(spark):
    """xxhash64 production path: same no-false-negative guarantee and
    bounded fp as the md5 oracle path, no crypto digest on the probe
    (the benched bloom_prune_fast row's contract)."""
    from cubert_spark.operators.bloom import bloom_build, bloom_prune

    keys = spark.range(0, 500).selectExpr("id * 7 AS k")
    big = spark.range(0, 40000).selectExpr("id AS k", "id AS payload")
    bm = bloom_build(keys, "k", num_bits=65536, num_hashes=3, hash_fn="xxhash64")
    pruned = bloom_prune(big, "k", bm, hash_fn="xxhash64")
    truth = big.join(keys.hint("broadcast"), "k", "left_semi")
    assert truth.exceptAll(pruned.select("k", "payload")).count() == 0
    fp = pruned.join(keys, "k", "left_anti").count()
    assert fp <= 40000 * 1.1e-3, fp
    # the probe plan must not contain an md5 call (the point of the twin)
    assert "md5" not in pruned._jdf.queryExecution().executedPlan().toString().lower()

    # hash_fn is validated, never silently defaulted: a build/probe
    # typo mismatch would be silent FALSE NEGATIVES otherwise
    with pytest.raises(ValueError, match="unknown hash_fn"):
        bloom_build(keys, "k", hash_fn="xxHash64")
    with pytest.raises(ValueError, match="unknown hash_fn"):
        bloom_prune(big, "k", bm, hash_fn="xx64")

    # NULL keys drop on BOTH paths (xxhash64 skips null args — without
    # the null guard every null-key row would pass the xx probe)
    nulls = spark.createDataFrame([(None, 1), (7, 2)], "k long, payload long")
    for fn in ("md5", "xxhash64"):
        bmn = bloom_build(keys, "k", hash_fn=fn)
        got = bloom_prune(nulls, "k", bmn, hash_fn=fn).collect()
        assert [r.k for r in got] == [7], fn


def test_bloom_build_mergeable(spark):
    """bit_or of two partial bitmaps == the bitmap of the union."""
    from cubert_spark.operators.bloom import bloom_build

    lo = spark.range(0, 300).selectExpr("id AS k")
    hi = spark.range(300, 600).selectExpr("id AS k")
    whole = spark.range(0, 600).selectExpr("id AS k")
    merged = (
        bloom_build(lo, "k").unionAll(bloom_build(hi, "k"))
        .groupBy("word").agg(F.expr("bit_or(bits)").alias("bits"))
    )
    direct = bloom_build(whole, "k")
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_fuzzy_pairs_block_cols(spark):
    """block_cols: candidates only form within a block — identical
    names in different blocks are NOT paired; within-block behavior
    unchanged."""
    from cubert_spark.datapipe.dedup import fuzzy_pairs

    rows = [
        (1, "smith", 10), (2, "smyth", 10),   # same block, dist 1
        (3, "smith", 20),                      # other block: no pair
        (4, "jones", 10), (5, "jones", 10),   # same block, dist 0
    ]
    df = spark.createDataFrame(rows, "id long, name string, region int")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_pairs(
            df, col="name", id_col="id", max_dist=1, block_cols=["region"]
        ).collect()
    )
    assert got == [(1, 2, 1), (4, 5, 0)]


def test_compression_ratio_matches_python_model(spark):
    """compression_ratio equals the plain-Python zlib reference
    EXACTLY (fixed level => deterministic bytes), including the empty
    and null-text edges."""
    import zlib

    from cubert_spark.datapipe.textstats import compression_ratio

    rows = [
        (1, "abc " * 500),                      # highly compressible
        (2, "the quick brown fox jumps over"),  # prose-ish
        (3, ""),                                # empty -> NULL ratio
        (4, None),                              # null text -> as empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.raw_len, r.comp_len, r.ratio)
           for r in compression_ratio(df).collect()}
    for i, t in rows:
        b = (t or "").encode("utf-8")
        cl = len(zlib.compress(b, 6))
        want = (len(b), cl, cl / len(b) if b else None)
        assert got[i] == want, (i, got[i], want)
    assert got[1][2] < 0.05 < got[2][2]


def test_cc_fast_path_equals_loop_path(spark):
    """The union-find small-graph fast path and the distributed
    label-propagation loop produce IDENTICAL labels on random graphs
    (chains, stars, cliques, singleton-edge mixes)."""
    import random

    from cubert_spark.datapipe.components import connected_components

    rng = random.Random(11)
    edges = set()
    for _ in range(200):
        a, b = rng.randrange(120), rng.randrange(120)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    fast = {(r.id, r.component) for r in connected_components(df).collect()}
    loop = {
        (r.id, r.component)
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert fast == loop and fast


def test_pii_redact_masks_and_counts(spark):
    """pii_redact: typed placeholders replace every lookalike, counts
    come from the ORIGINAL text, clean docs pass through unchanged."""
    from cubert_spark.datapipe.textstats import pii_redact

    rows = [
        (1, "mail me at a.b@example.com or c@d.org thanks"),
        (2, "server 10.0.0.1 and 192.168.1.255 up"),
        (3, "call +1 (555) 123-4567 now"),
        (4, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.redacted, r.n_redacted) for r in pii_redact(df).collect()}
    assert got[1] == ("mail me at <EMAIL> or <EMAIL> thanks", 2)
    assert got[2] == ("server <IP> and <IP> up", 2)
    assert got[3][0] == "call <PHONE> now" and got[3][1] == 1
    assert got[4] == ("no pii here at all", 0)


def test_quantile_histogram_within_bin_width(spark):
    """Histogram quantiles land within one bin width of the exact
    percentile_disc values (the sketch's error bound)."""
    from cubert_spark.queries.events import q_quantile_histogram
    from cubert_spark.catalog import load_table

    sf = "/root/testdata/sf0.01"
    approx = {r.event_type: r for r in q_quantile_histogram(spark, sf).collect()}
    e = load_table(spark, sf, "events").filter(F.col("value").isNotNull())
    exact = {
        r.event_type: r
        for r in e.groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("p99"),
        )
        .collect()
    }
    bin_w = 640.0 / 128
    for t, a in approx.items():
        for q in (50, 90, 99):
            est = getattr(a, f"p{q}_bin_lo")
            true = getattr(exact[t], f"p{q}")
            assert abs(est - true) <= bin_w, (t, q, est, true)


def test_corpus_report_values(spark):
    """corpus_report's long-format rows equal independently computed
    facts on a hand corpus (dups, tokens, languages, percentiles)."""
    from cubert_spark.datapipe.curation import corpus_report

    rows = [
        (1, "a b c", "en"),
        (2, "a b c", "en"),          # exact dup of 1
        (3, "x y z w", "fr"),
        (4, "one two", "en"),
        (5, "uno", "es"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {(r.metric, r.key): r.value for r in corpus_report(df).collect()}
    assert got[("size", "docs")] == 5.0
    assert got[("size", "tokens")] == 3 + 3 + 4 + 2 + 1
    assert got[("dedup", "distinct_contents")] == 4.0
    assert got[("dedup", "exact_dup_docs")] == 1.0
    assert got[("languages", "en")] == 3.0 and got[("languages", "es")] == 1.0
    assert got[("quality", "tokens_p50")] == 3.0


def test_duplicate_spans_semantics(spark):
    """A repeated 8-token span is flagged whether it repeats WITHIN a
    doc or ACROSS docs; unique text and too-short docs report zero."""
    from cubert_spark.datapipe.curation import duplicate_spans

    span = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, span + " one two " + span),          # self-repeat
        (2, span + " completely different tail words here now ok"),
        (3, "unique words only nine tokens long right here now ok"),
        (4, "short doc"),                         # < 8 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicate_spans(df, span_tokens=8).collect()}
    assert out[4].n_spans == 0 and out[4].dup_frac == 0.0
    assert out[3].n_dup_spans == 0
    # doc 1 contains the span twice -> duplicated; doc 2 shares it once
    assert out[1].n_dup_spans >= 2
    assert out[2].n_dup_spans >= 1
    assert 0 < out[2].dup_frac <= 1.0
    # doc 2's tail spans are unique
    assert out[2].n_dup_spans < out[2].n_spans


def test_expectations_catch_planted_violations(spark):
    """Every rule type must COUNT its planted violations (the driver
    row runs on clean TPC-H data where all-zero is correct; this test
    proves the rules actually fire)."""
    from cubert_spark.datapipe import expectations as X

    child = spark.createDataFrame(
        [
            (1, "A", 0.05, 10),
            (1, "A", 0.05, 10),      # dup key (1, 'A')... unique on (k, flag)
            (2, "Z", 0.5, 99),       # bad flag, out-of-range, orphan fk
            (None, "N", None, 10),   # null k; null discount ignored by range
            (3, None, 0.01, None),   # NULL flag/fk: not_null's business only
        ],
        "k int, flag string, disc double, fk int",
    )
    dim = spark.createDataFrame([(10,), (11,)], "d int")
    rules = [
        X.not_null("k"),
        X.accepted_values("flag", ["A", "N", "R"]),
        X.in_range("disc", 0.0, 0.1),
        X.unique("k", "flag"),
        X.foreign_key("fk", dim, "d"),
    ]
    got = {
        (r.rule, r.col_name): (r.n_violations, r.n_checked)
        for r in X.run_expectations(child, rules).collect()
    }
    assert got[("not_null", "k")] == (1, 5)
    assert got[("accepted_values", "flag")] == (1, 5)  # NULL flag NOT counted
    assert got[("in_range", "disc")] == (1, 5)      # NULL disc not counted
    assert got[("unique", "k,flag")] == (1, 5)      # one excess row
    assert got[("foreign_key", "fk")] == (1, 4)     # 99 orphaned; NULL fk n/a

    # empty table: clean zeros, not NULLs; empty rule list raises
    import pytest

    empty = child.limit(0)
    z = {
        (r.rule, r.col_name): (r.n_violations, r.n_checked)
        for r in X.run_expectations(empty, rules).collect()
    }
    assert all(v == (0, 0) for v in z.values()), z
    with pytest.raises(ValueError):
        X.run_expectations(child, [])


def test_cdc_chunking_properties_and_blob_dedup(spark):
    """Content-defined chunking: size bounds hold; an INSERT only
    perturbs chunks near the edit (every later boundary
    re-synchronizes — the property fixed-size chunking lacks); and
    blob_dedup_stats finds a shared segment planted in two blobs at
    DIFFERENT offsets."""
    import numpy as np

    from cubert_spark.datapipe.cdc_chunk import blob_dedup_stats, chunk_boundaries

    rng = np.random.default_rng(5)
    data = rng.integers(0, 256, size=20000, dtype=np.uint8).tobytes()
    b = chunk_boundaries(data)
    sizes = [b[0]] + [b[i] - b[i - 1] for i in range(1, len(b))]
    assert all(s <= 1024 for s in sizes)
    assert all(s > 64 for s in sizes[:-1])  # last chunk may be short
    assert 100 < sum(sizes) / len(sizes) < 600  # ~avg_size target

    # resynchronization under an insert at offset 5000
    data2 = data[:5000] + bytes(10) + data[5000:]
    b2 = chunk_boundaries(data2)
    tail1 = {x for x in b if x > 6100}
    tail2 = {x - 10 for x in b2 if x > 6110}
    assert tail1 and tail1 == (tail1 & tail2)  # every tail boundary realigns

    # cross-blob dedup: a 5KB shared segment at different offsets
    shared = rng.integers(0, 256, size=5000, dtype=np.uint8).tobytes()
    blob_a = data[:3000] + shared + data[3000:8000]
    blob_b = data[8000:9500] + shared + data[9500:12000]
    blob_c = data[12000:18000]  # no overlap
    df = spark.createDataFrame(
        [(1, blob_a), (2, blob_b), (3, blob_c), (4, b"")],
        "id long, blob binary",
    )
    stats = {r.id: r for r in blob_dedup_stats(df).collect()}
    # empty blobs report zeros instead of vanishing from the report
    assert (stats[4].n_chunks, stats[4].n_bytes, stats[4].dup_frac) == (0, 0, 0.0)
    assert stats[1].n_bytes == len(blob_a)
    # the interior of the shared segment dedups on both carriers (the
    # first/last chunk of the segment merge with surrounding bytes, so
    # the edges — up to ~a mean chunk per side — are the CDC toll)
    assert stats[1].dup_bytes > 2000 and stats[2].dup_bytes > 2000
    assert stats[1].dup_bytes == stats[2].dup_bytes  # same interior chunks
    assert stats[3].dup_bytes == 0 and stats[3].dup_frac == 0.0


def test_lm_perplexity_orders_fluency(spark):
    """Bigram perplexity semantics: a document made of the corpus's
    dominant bigram scores lower perplexity than a document of
    one-off bigrams; ppl == exp(avg_nll); n_bigrams == len-1."""
    from cubert_spark.datapipe.lm import lm_perplexity

    rows = [
        (1, "a b a b a b a b a b"),       # the dominant pattern
        (2, "a b a b a b a b a b"),
        (3, "a b a b a b a b a b"),
        (4, "q w e r t y u i o p"),       # all singleton bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in lm_perplexity(df).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert all(r["n_bigrams"] == 9 for r in got.values())
    assert got[1]["ppl"] < got[4]["ppl"]
    import math

    for r in got.values():
        assert abs(r["ppl"] - round(math.exp(r["avg_nll"]), 6)) < 1e-5


def test_fuzzy_pairs_duplicate_ids_raise(spark):
    """The narrow-shuffle re-fetch requires one row per id; a
    duplicate id must raise the distributed assertion (rs_join idiom),
    never silently cross-product its values onto candidate pairs."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame(
        [(1, "smith"), (1, "smyth"), (2, "smith")],
        "c_custkey long, c_name string",
    )
    with pytest.raises(SparkRuntimeException, match="duplicate c_custkey"):
        dedup.fuzzy_pairs(df).collect()


def test_kmeans_lloyd_contract_edges(spark):
    """Empty input -> zero clusters with the output schema (no
    array_min-over-empty crash); ragged or null-holed vectors raise
    the distributed assertion instead of silently skewing n_vecs vs
    per-position counts."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from cubert_spark.datapipe.similarity import kmeans_lloyd

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = kmeans_lloyd(empty, k=4, iters=2)
    assert out.count() == 0
    assert out.columns == ["cluster_id", "n_vecs", "pos", "centroid_q"]

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(SparkRuntimeException, match="ragged or null-holed"):
        kmeans_lloyd(ragged, k=2, iters=1)
    holed = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, None])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(SparkRuntimeException, match="ragged or null-holed"):
        kmeans_lloyd(holed, k=2, iters=1)


def test_kmeans_assign_executed_and_empty_schema(spark):
    """Direct executed coverage for kmeans_assign (r10 ADVICE: the
    assign-specific select and the kk==0 limit(0) path had never run
    outside the parity parametrization): labels partition the input,
    dist is the exact bigint squared distance to the OWN cluster's
    centroid (cross-checked per-row in Python at the same fixed
    point), and empty input returns the declared 3-column schema."""
    from cubert_spark.datapipe.similarity import kmeans_assign, kmeans_lloyd

    # two well-separated blobs -> k=2 must split them cleanly
    rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(5)] + [
        (10 + i, [10.0 + i * 0.01, 10.0]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_assign(df, k=2, iters=3).collect()
    assert len(out) == 10 and {r.cluster_id for r in out} == {0, 1}
    by_blob = {r.vec_id: r.cluster_id for r in out}
    assert len({by_blob[i] for i in range(5)}) == 1
    assert len({by_blob[10 + i] for i in range(5)}) == 1
    assert by_blob[0] != by_blob[10]

    # dist replays exactly: quantize input like _lloyd (the column is
    # array<float>, so values round through float32 first), square
    # against the final centroids from kmeans_lloyd (same params)
    import math

    import numpy as np

    cents = {}
    for r in kmeans_lloyd(df, k=2, iters=3).collect():
        cents.setdefault(r.cluster_id, {})[r.pos] = r.centroid_q
    scale = 1_000_000
    vec = {vid: emb for vid, emb in rows}
    for r in out:
        c = cents[r.cluster_id]
        expect = sum(
            (math.floor(float(np.float32(x)) * scale) - c[p]) ** 2
            for p, x in enumerate(vec[r.vec_id])
        )
        assert r.dist == expect, (r.vec_id, r.dist, expect)

    # kk==0 (empty input): schema-stable empty frame, no crash
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    eout = kmeans_assign(empty, k=4, iters=2)
    assert eout.columns == ["vec_id", "cluster_id", "dist"]
    assert eout.count() == 0


def test_dsir_log_weights_exact_fold(spark):
    """DSIR scoring (sampling.dsir_log_weights): features are word
    unigrams + bigrams; the weight is an exact bigint fold of literal
    milli-nat log-ratios — replayed here feature-by-feature in
    Python."""
    import hashlib

    from cubert_spark.datapipe import sampling

    lr = [((b * 7) % 21) - 10 for b in range(16)]
    docs = [
        (1, "alpha beta alpha"),
        (2, "Gamma—delta! gamma"),
        (3, ""),            # no terms: 0 features, weight 0
        (4, "solo"),        # 1 term: no bigrams
        (5, None),          # null text behaves like empty
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_feats"], r["logw_millinats"])
        for r in sampling.dsir_log_weights(df, lr).collect()
    }

    def bucket(f):
        h = hashlib.md5(("dsir" + f).encode()).hexdigest()
        return int(h[:4], 16) % 16

    import re

    for doc_id, text in docs:
        terms = re.findall(r"[a-z0-9]+", (text or "").lower())
        feats = terms + [
            f"{a}_{b}" for a, b in zip(terms, terms[1:])
        ]
        want = (len(feats), sum(lr[bucket(f)] for f in feats))
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


def test_dsir_resample_deterministic_and_weight_biased(spark):
    """dsir_resample: Gumbel-top-k selection is reproducible across
    repartitionings (hash-derived noise, no RNG state), and heavily
    up-weighted docs displace down-weighted ones."""
    from cubert_spark.datapipe import sampling

    # bucket everything through one term per doc so each doc's weight
    # is exactly its term's bucket log-ratio
    rows = [(i, f"tok{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lr_flat = [0] * 16
    a = sampling.dsir_resample(df, lr_flat, k=10)
    b = sampling.dsir_resample(df.repartition(7, "doc_id"), lr_flat, k=10)
    sel_a = sorted(r["doc_id"] for r in a.collect())
    sel_b = sorted(r["doc_id"] for r in b.collect())
    assert sel_a == sel_b  # partition-independent
    # +8 nats on every feature bucket vs -8: the boosted corpus side
    # should dominate the selection (Gumbel noise spans ~ +-2 nats)
    import hashlib

    def bucket(f):
        h = hashlib.md5(("dsir" + f).encode()).hexdigest()
        return int(h[:4], 16) % 16

    lr_split = [0] * 16
    for i in range(40):
        lr_split[bucket(f"tok{i}")] = 8000 if i < 20 else -8000
    sel = sorted(
        r["doc_id"]
        for r in sampling.dsir_resample(df, lr_split, k=10).collect()
    )
    boosted = [d for d in sel if d < 20]
    assert len(boosted) >= 9, sel  # bucket collisions can leak ~1 row


def test_winnow_guarantee_and_edges(spark):
    """MOSS winnowing (dedup.winnow_fingerprints): any shared token
    run of length >= w + k - 1 guarantees a shared fingerprint; docs
    under k tokens yield nothing; under w windows the single global
    min survives (degenerate guarantee)."""
    from cubert_spark.datapipe import dedup

    run = "alpha beta gamma delta epsilon zeta eta"  # 7 = w + k - 1
    docs = [
        (1, f"one two three {run} four five"),
        (2, f"{run} six seven eight nine ten eleven"),
        (3, "tiny doc"),                   # < k tokens: no fingerprints
        (4, "exactly four tokens here"),   # k tokens, 1 hash: global min
        (5, "completely different words about nothing shared at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = dedup.winnow_fingerprints(df, k=4, w=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert 3 not in by_doc
    assert len(by_doc[4]) == 1
    # the guarantee: docs 1 and 2 share the 7-token run
    assert by_doc[1] & by_doc[2]
    # density: ~2/(w+1) of hashes kept, never more than n_windows
    assert 0 < len(by_doc[1]) < 12  # doc 1 has 12 k-grams
    # pair surface: (1,2) survives with the shared count; doc 5 pairs
    # with nobody
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in dedup.winnow_pairs(df, min_shared=1).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(5 in p for p in pairs)


def test_winnow_pairs_relative_cut_spelling(spark):
    """The corpus-relative df-cut must actually CUT: a big shared run
    (6-doc postings) dies under frac=0.35 of 8 fingerprinted docs
    (ceiling 2.8) while a small shared run (2-doc postings) survives —
    an inverted predicate, wrong denominator, or no-op cut all fail
    this. frac alone selects the relative cut (no explicit
    max_doc_freq=None needed); both-set raises."""
    import pytest

    from cubert_spark.datapipe import dedup

    run_a = "alpha beta gamma delta epsilon zeta eta"
    run_b = "one two three four five six seven"
    docs = [(i, f"pref{i} filler{i} {run_a} tail{i}") for i in range(6)]
    docs += [(i, f"pref{i} filler{i} {run_b} tail{i}") for i in (6, 7)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # uncut (huge absolute ceiling): both groups pair up
    uncut = dedup.winnow_pairs(df, min_shared=1, max_doc_freq=100)
    key = lambda rows: sorted((r["id_a"], r["id_b"]) for r in rows)
    got_uncut = key(uncut.collect())
    assert (0, 1) in got_uncut and (6, 7) in got_uncut
    # relative cut at 0.35 * 8 = 2.8: size-6 postings die, size-2 live
    relative = dedup.winnow_pairs(df, min_shared=1, max_doc_freq_frac=0.35)
    assert key(relative.collect()) == [(6, 7)]
    # equivalent absolute ceiling gives the identical result
    absolute = dedup.winnow_pairs(df, min_shared=1, max_doc_freq=2)
    assert key(absolute.collect()) == [(6, 7)]
    # dual cut (r13, min semantics): a loose frac + tight absolute
    # budget equals the absolute-only result — the 100 TB shape where
    # frac thins the tail and the budget caps pair expansion
    both = dedup.winnow_pairs(
        df, min_shared=1, max_doc_freq=2, max_doc_freq_frac=0.9
    )
    assert key(both.collect()) == [(6, 7)]
    with pytest.raises(ValueError, match="must be"):
        dedup.winnow_pairs(df, max_doc_freq_frac=-0.1)


def test_pq_adc_fast_ranks_agree(spark):
    """The production-arithmetic ADC twin (double dots/sums) returns
    the same per-query neighbor ranking as the DECIMAL-exact path on
    the bench codebooks (scores are well-separated there; float
    error ~1e-16 can't flip them)."""
    from cubert_spark.datapipe import similarity
    from cubert_spark.queries.datapipe import _PQ_CODEBOOKS

    from cubert_spark.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter("vec_id < 3")
    exact = similarity.pq_adc_topk(e, q, _PQ_CODEBOOKS, k=5)
    fast = similarity.pq_adc_topk(e, q, _PQ_CODEBOOKS, k=5, exact=False)
    key = lambda df: {
        (r["q_id"], r["rnk"]): r["vec_id"] for r in df.collect()
    }
    assert key(exact) == key(fast)


def test_semantic_dedup_loop_assignment_matches_unrolled(spark):
    """The loop-based argmax (folded array literal + runtime fold,
    r13) is the SAME double math in the same fold order as the
    unrolled float tier — kept-set and cluster ids bit-identical on a
    seeded random corpus, not just on wide margins."""
    import random

    from cubert_spark.datapipe.similarity import semantic_dedup

    rng = random.Random(7)
    dim, k = 8, 9
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(k)]
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ref = sorted(
        (r.vec_id, r.list_id)
        for r in semantic_dedup(
            df, cents, 0.8, exact=False, assignment="unrolled"
        ).collect()
    )
    loop = sorted(
        (r.vec_id, r.list_id)
        for r in semantic_dedup(
            df, cents, 0.8, exact=False, assignment="loop"
        ).collect()
    )
    assert loop == ref


def test_semantic_dedup_hierarchical_on_separated_clusters(spark):
    """Coarse-then-fine assignment routes correctly when groups are
    separated (each group's members hug its mean): same kept-set as
    the flat argmax. The guard rails: exact=True rejects non-unrolled
    assignments, unknown names raise."""
    import pytest as _pytest

    from cubert_spark.datapipe.similarity import semantic_dedup

    # 4 centroids in 2 contiguous groups of 2; groups live on opposite
    # axes so the coarse mean routes unambiguously
    cents = [
        [1.0, 0.0, 0.1, 0.0], [1.0, 0.0, -0.1, 0.0],   # group 0: +x
        [-1.0, 0.0, 0.1, 0.0], [-1.0, 0.0, -0.1, 0.0],  # group 1: -x
    ]
    rows = [
        (0, [1.0, 0.0, 0.09, 0.0]),   # c0; near-dup group A
        (1, [1.0, 0.0, 0.08, 0.0]),   # c0 -> dropped vs 0
        (2, [1.0, 0.0, -0.09, 0.0]),  # c1 survives (different cluster)
        (3, [-1.0, 0.0, 0.09, 0.0]),  # c2
        (4, [-1.0, 0.0, 0.08, 0.0]),  # c2 -> dropped vs 3
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    flat = sorted(
        (r.vec_id, r.list_id)
        for r in semantic_dedup(
            df, cents, 0.999, exact=False, assignment="loop"
        ).collect()
    )
    hier = sorted(
        (r.vec_id, r.list_id)
        for r in semantic_dedup(
            df, cents, 0.999, exact=False, assignment="hierarchical"
        ).collect()
    )
    assert hier == flat == [(0, 0), (2, 1), (3, 2)]
    with _pytest.raises(ValueError, match="unrolled"):
        semantic_dedup(df, cents, 0.9, exact=True, assignment="loop")
    with _pytest.raises(ValueError, match="unknown assignment"):
        semantic_dedup(df, cents, 0.9, exact=False, assignment="nope")


# --- r13 second-half operators: soft dedup / CCNet buckets / ---------------
# --- temperature mix / per-domain cap ---------------------------------------


def test_soft_dedup_weights_exact_ppm(spark):
    """soft_dedup_weights: the whole chain (shingle df -> df_ppm ->
    per-doc commonness -> decay weight) replayed literally in Python
    on a corpus with hand-countable shingles."""
    from collections import Counter

    from cubert_spark.datapipe import dedup

    docs = [
        (1, "a b c d"),        # shingles: "a b c", "b c d"
        (2, "a b c d"),        # exact dup of 1
        (3, "x y z"),          # unique shingle "x y z"
        (4, "a b c q"),        # shares "a b c"
        (5, "a b"),            # too short: absent from output
        (6, None),             # null text: absent
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["commonness_ppm"], r["weight_ppm"])
        for r in dedup.soft_dedup_weights(df).collect()
    }

    # python replay
    sh = {
        1: {"a b c", "b c d"},
        2: {"a b c", "b c d"},
        3: {"x y z"},
        4: {"a b c", "b c q"},
    }
    n_docs = len(sh)
    dfreq = Counter(s for ss in sh.values() for s in ss)
    want = {}
    for d, ss in sh.items():
        ppms = [(dfreq[s] * 1_000_000) // n_docs for s in ss]
        c = sum(ppms) // len(ss)
        want[d] = (len(ss), c, 1_000_000_000_000 // (1_000_000 + c))
    assert got == want
    # duplicated docs are MORE common -> weigh LESS than the unique doc
    assert got[1][2] < got[3][2]
    # and absent rows really are absent
    assert set(got) == {1, 2, 3, 4}


def test_soft_dedup_partition_independent(spark):
    """Same weights under an adversarial repartition (determinism is
    the operator's whole contract — weights feed reproducible
    sampling)."""
    from cubert_spark.datapipe import dedup

    rows = [(i, f"w{i % 7} w{(i + 1) % 5} w{(i + 2) % 3} w{i % 2}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, dedup.soft_dedup_weights(df).collect()))
    b = sorted(
        map(tuple, dedup.soft_dedup_weights(df.repartition(13, "text")).collect())
    )
    assert a == b


def test_perplexity_buckets_exact_thirds(spark):
    """exact tier: per-language buckets are NTILE-balanced (sizes
    differ by <= 1) and ordered (every head ppl <= every tail ppl
    within its language)."""
    from cubert_spark.datapipe.lm import perplexity_buckets

    rows = []
    for i in range(21):
        rows.append((i, "en", " ".join(f"t{j % (2 + i % 5)}" for j in range(8))))
    for i in range(21, 31):
        rows.append((i, "zh", " ".join(f"u{j % (1 + i % 4)}" for j in range(6))))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = perplexity_buckets(df).collect()
    assert set(r["bucket"] for r in out) == {"head", "middle", "tail"}
    from collections import defaultdict

    sizes = defaultdict(lambda: defaultdict(int))
    ppls = defaultdict(lambda: defaultdict(list))
    for r in out:
        sizes[r["lang"]][r["bucket"]] += 1
        ppls[r["lang"]][r["bucket"]].append(r["ppl"])
    for lang, s in sizes.items():
        assert max(s.values()) - min(s.values()) <= 1, (lang, dict(s))
        assert max(ppls[lang]["head"]) <= min(ppls[lang]["tail"]), lang
        assert max(ppls[lang]["head"]) <= min(ppls[lang]["middle"]), lang


def test_perplexity_buckets_sketch_agrees_with_exact(spark):
    """sketch tier (the zero-sort 100 TB path): bucket assignment
    agrees with the exact NTILE tier away from bucket boundaries —
    only rows tied with a quantile cut may differ, so agreement on
    this corpus stays high."""
    from cubert_spark.datapipe.lm import perplexity_buckets

    from cubert_spark.catalog import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(d, thresholds="exact").collect()
    }
    sketch = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(d, thresholds="sketch").collect()
    }
    assert set(exact) == set(sketch)
    agree = sum(exact[k] == sketch[k] for k in exact) / len(exact)
    assert agree >= 0.9, agree
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        perplexity_buckets(d, n_buckets=1)
    with _pytest.raises(ValueError, match="thresholds"):
        perplexity_buckets(d, thresholds="magic")


def test_temperature_mix_rates_and_determinism(spark):
    """alpha-sampling semantics: the smallest source is kept whole,
    larger sources are kept at ~sqrt(min/cnt), the kept set is
    partition-independent, alpha=1 keeps everything, and bad alpha
    raises."""
    import math

    import pytest as _pytest

    from cubert_spark.datapipe import sampling

    rows = [(i, "small" if i < 100 else "big") for i in range(100 + 1600)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = sampling.temperature_mix(df).collect()
    by_src = {"small": 0, "big": 0}
    for r in kept:
        by_src[r["source"]] += 1
    assert by_src["small"] == 100  # rate = sqrt(100/100) = 1
    want_big = 1600 * math.sqrt(100 / 1600)  # = 400
    assert abs(by_src["big"] - want_big) < 4 * math.sqrt(want_big), by_src
    # partition-independent
    a = sorted(r["doc_id"] for r in kept)
    b = sorted(
        r["doc_id"]
        for r in sampling.temperature_mix(df.repartition(11, "doc_id")).collect()
    )
    assert a == b
    # alpha=1: no flattening at all
    assert sampling.temperature_mix(df, alpha=1.0).count() == 1700
    with _pytest.raises(ValueError, match="alpha"):
        sampling.temperature_mix(df, alpha=1.5)


def test_per_group_cap_semantics(spark):
    """per_group_cap: under-cap groups kept whole, over-cap groups
    keep exactly cap rows, membership is hash-stable (growing a group
    only swaps members: kept(union) restricted to the old rows is a
    subset of kept(old)), and cap < 1 raises."""
    import pytest as _pytest

    from cubert_spark.datapipe import sampling

    rows = [(i, "big") for i in range(50)] + [(1000 + i, "small") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.per_group_cap(df, cap=10).collect()
    by_src = {"big": [], "small": []}
    for r in out:
        by_src[r["source"]].append(r["doc_id"])
    assert len(by_src["big"]) == 10
    assert sorted(by_src["small"]) == [1000 + i for i in range(5)]
    assert all(1 <= r["rk"] <= 10 for r in out)

    grown = rows + [(2000 + i, "big") for i in range(25)]
    df2 = spark.createDataFrame(grown, "doc_id long, source string")
    kept2 = {
        r["doc_id"]
        for r in sampling.per_group_cap(df2, cap=10).collect()
        if r["source"] == "big"
    }
    old_ids = {i for i in range(50)}
    assert kept2 & old_ids <= set(by_src["big"])  # swaps, never reshuffles
    with _pytest.raises(ValueError, match="cap"):
        sampling.per_group_cap(df, cap=0)


def test_token_budget_select_prefix_rule(spark):
    """token_budget_select: replay the md5-priority prefix cut in
    Python — kept set = docs in hash order while cumulative tokens
    fit; the first overflowing doc drops and nothing back-fills."""
    import hashlib

    import pytest as _pytest

    from cubert_spark.datapipe import sampling

    rows = [(i, " ".join(["w"] * (3 + i % 7))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def h16(i):
        return int(
            hashlib.md5(f"budget{i}".encode()).hexdigest()[:4], 16
        )

    toks = {i: 3 + i % 7 for i, _ in rows}
    order = sorted(toks, key=lambda i: (h16(i), i))
    budget = sum(toks.values()) // 2
    want, cum = [], 0
    for i in order:
        cum += toks[i]
        if cum <= budget:
            want.append((i, toks[i], cum))
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["cum_tokens"])
        for r in sampling.token_budget_select(df, budget_frac=0.5).collect()
    )
    assert got == sorted(want)
    # absolute budget spelling agrees with the frac spelling
    got_abs = sorted(
        (r["doc_id"], r["n_tokens"], r["cum_tokens"])
        for r in sampling.token_budget_select(
            df, budget_tokens=budget
        ).collect()
    )
    assert got_abs == got
    # partition independence (the two-level prefix sum is global)
    got_rep = sorted(
        (r["doc_id"], r["n_tokens"], r["cum_tokens"])
        for r in sampling.token_budget_select(
            df.repartition(7, "text"), budget_frac=0.5
        ).collect()
    )
    assert got_rep == got
    with _pytest.raises(ValueError, match="exactly one"):
        sampling.token_budget_select(df)
    with _pytest.raises(ValueError, match="exactly one"):
        sampling.token_budget_select(df, budget_frac=0.5, budget_tokens=10)
    with _pytest.raises(ValueError, match="n_shards"):
        sampling.token_budget_select(df, budget_frac=0.5, n_shards=0)


def test_token_budget_custom_priority(spark):
    """A caller-supplied integer priority drives the order: with
    priority = doc_id the kept set is exactly the id-prefix whose
    tokens fit."""
    from pyspark.sql import functions as F

    from cubert_spark.datapipe import sampling

    rows = [(i, " ".join(["w"] * 10)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sampling.token_budget_select(
        df, budget_tokens=95, priority=F.col("doc_id")
    ).collect()
    # 10 tokens per doc, budget 95 -> docs 0..8 (cum 90); doc 9 would
    # hit 100 > 95 and drops
    assert sorted(r["doc_id"] for r in out) == list(range(9))
    assert max(r["cum_tokens"] for r in out) == 90


def test_mixture_sample_by_tokens(spark):
    """size_col mixing: shares are enforced over summed sizes, not
    row counts — the scarcest source BY TOKENS is kept whole and the
    realized token shares track the target."""
    from pyspark.sql import functions as F

    from cubert_spark.datapipe import sampling

    # src_a: many short docs; src_b: few long docs. By COUNT src_b is
    # scarcest; by TOKENS src_b is the bigger pool.
    rows = [(i, "a", 4) for i in range(600)] + [
        (10_000 + i, "b", 100) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_toks long")
    out = sampling.mixture_sample(
        df, {"a": 0.5, "b": 0.5}, size_col="n_toks", salt="tt"
    ).collect()
    toks = {"a": 0, "b": 0}
    for r in out:
        toks[r["source"]] += r["n_toks"]
    # token pools: a=2400, b=6000. Equal-share target => T=4800; a is
    # the scarce side and keeps everything; b cuts to ~2400 tokens.
    assert toks["a"] == 2400
    assert abs(toks["b"] - 2400) < 700, toks  # 60 whole docs, 100 toks apiece


def test_gopher_rules_literal_replay(spark):
    """gopher_rules: each rule exercised by a targeted document and
    the flags replayed literally."""
    from cubert_spark.datapipe import textstats

    long_ok = " ".join(
        ["the", "be", "to", "of"] + [f"word{i}" for i in range(60)]
    )
    rows = [
        (1, long_ok),                               # passes everything
        (2, "too short"),                           # fails word count
        (3, " ".join(["123"] * 60)),                # fails alpha frac + stopwords
        (4, long_ok + "\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j"),
        (5, None),                                  # null -> all false
        (6, " ".join(["#"] * 30 + ["the be to of and that"] * 10)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in textstats.gopher_rules(df).collect()}

    assert got[1]["keep"] is True
    assert got[2]["r_word_count"] is False and got[2]["keep"] is False
    assert got[3]["r_alpha_frac"] is False
    assert got[3]["r_stopwords"] is False
    # doc 4: 10 of its 11 lines start with '-': > 90% bullets fails
    assert got[4]["r_bullet_lines"] is False
    assert all(
        got[5][k] is False
        for k in got[5]
        if k.startswith("r_") or k == "keep"
    )
    # doc 6: 30 '#' among 90 words -> symbol ratio 1/3 >= 0.1 fails
    assert got[6]["r_symbol_ratio"] is False


def test_cluster_representatives_keeps_best(spark):
    """cluster_representatives: survivor = the max-quality member of
    each component; quality ties break to the smaller id."""
    from cubert_spark.datapipe import components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    quality = spark.createDataFrame(
        [(1, 100), (2, 500), (3, 400), (10, 7), (11, 7)],
        "doc_id long, n_chars long",
    )
    got = {
        r["rep_id"]: (r["kept_id"], r["n_members"])
        for r in components.cluster_representatives(pairs, quality).collect()
    }
    # cluster {1,2,3}: 2 has the best quality; cluster {10,11}: tie ->
    # smaller id survives
    assert got == {1: (2, 3), 10: (10, 2)}


def test_c4_rules_literal_replay(spark):
    """c4_rules: each line rule and page rule exercised by a targeted
    document and the flags + reassembled clean_text replayed."""
    from cubert_spark.datapipe import textstats

    good = "this line has enough words to survive."
    rows = [
        (1, good + "\nanother full sentence with many words!\n"
            "a third good sentence right here?"),      # keeps all 3
        (2, "short line.\n" + good),                    # line 1: <5 words
        (3, good + "\nno terminal punctuation here at all"),
        (4, "uses javascript for rendering the page.\n" + good),
        (5, "lorem ipsum dolor sit amet. " + good + "\n" + good
            + "\n" + good),                             # page: lorem
        (6, "var f = function() { return 1; }\n" + good),  # page: brace
        (7, good + "\n" + good),                        # only 2 sentences
        (8, None),                                      # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in textstats.c4_rules(df).collect()}

    assert got[1]["keep"] is True and got[1]["n_kept_lines"] == 3
    assert got[1]["n_sentences"] == 3
    assert got[2]["n_kept_lines"] == 1          # short line pruned
    assert got[3]["n_kept_lines"] == 1          # unpunctuated line pruned
    assert got[4]["n_kept_lines"] == 1          # javascript line pruned
    assert got[5]["has_lorem"] is True and got[5]["keep"] is False
    assert got[6]["has_brace"] is True and got[6]["keep"] is False
    assert got[7]["n_sentences"] == 2 and got[7]["keep"] is False
    assert got[8]["keep"] is False and got[8]["clean_text"] == ""
    assert got[8]["n_lines"] == 0
    # clean_text is the surviving lines, order preserved
    assert got[2]["clean_text"] == good


def test_doremi_weights_concentrates_on_lossy_domain(spark):
    """doremi_weights: the domain with higher excess loss gets more
    mass; negative excess clips to the uniform-smoothing floor; the
    ppm weights are exact integers that replay."""
    from cubert_spark.datapipe import sampling

    rows = (
        [("hard", 5000)] * 4
        + [("easy", 1000)] * 4
        + [("won", -2000)] * 4   # proxy already beats reference
    )
    df = spark.createDataFrame(rows, "source string, excess_milli long")
    got = {
        r["domain"]: r.asDict()
        for r in sampling.doremi_weights(df).collect()
    }
    assert got["won"]["lbar_milli"] == 0        # Group-DRO clip
    assert got["hard"]["lbar_milli"] == 5000
    assert (
        got["hard"]["weight_ppm"]
        > got["easy"]["weight_ppm"]
        > got["won"]["weight_ppm"]
    )
    # replay the closed form: u = 1e6 + (eta * lbar) // 1000, w ∝ u^5
    us = {d: (1_000_000 + (10_000 * got[d]["lbar_milli"]) // 1000) ** 5
          for d in got}
    tot = sum(us.values())
    for d in got:
        w = (us[d] * 1_000_000) // tot
        w = (900_000 * w) // 1_000_000 + 100_000 // 3
        assert got[d]["weight_ppm"] == w, d
    # smoothing floor: even the clipped domain keeps c/n mass
    assert got["won"]["weight_ppm"] >= 100_000 // 3


def test_doremi_weights_rejects_zero_rounds(spark):
    from cubert_spark.datapipe import sampling

    df = spark.createDataFrame([("a", 1)], "source string, excess_milli long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.doremi_weights(df, rounds=0)


def test_prototype_prune_drops_closest_to_centroid(spark):
    """prototype_prune: within each cluster the closest-to-centroid
    (most prototypical) members go first; ceil keeps >= 1 per
    cluster; survivor ranks are farthest-first."""
    from cubert_spark.datapipe import similarity

    # two tight groups in 2-d; k=2 seeds from the first two vectors
    rows = [
        (1, [0.0, 0.0]), (2, [0.9, 0.0]), (3, [0.1, 0.0]),
        (4, [0.05, 0.0]), (5, [0.92, 0.0]), (6, [0.88, 0.05]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = similarity.prototype_prune(
        df, k=2, iters=2, keep_num=1, keep_den=2
    ).collect()
    by_cluster: dict[int, list] = {}
    for r in kept:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    # half of each 3-member cluster kept = ceil(3/2) = 2 members
    assert sorted(len(v) for v in by_cluster.values()) == [2, 2]
    for members in by_cluster.values():
        ranks = sorted(m["rk"] for m in members)
        assert ranks == [1, 2]
        # rank 1 is the farthest member of its cluster
        far = max(members, key=lambda m: (m["dist"], -m["vec_id"]))
        assert far["rk"] == 1

    with __import__("pytest").raises(ValueError):
        similarity.prototype_prune(df, keep_num=0)


def test_unimax_budget_water_fill(spark):
    """unimax_budget: low-resource sources cap at max_epochs of their
    own data; the freed budget spreads uniformly over the rest; the
    fold replays in exact integers."""
    from cubert_spark.datapipe import sampling

    rows = [("tiny", i) for i in range(10)] + \
           [("mid", i) for i in range(100)] + \
           [("big", i) for i in range(400)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    got = {r["source"]: r.asDict()
           for r in sampling.unimax_budget(df, budget=300, max_epochs=4).collect()}
    # tiny caps at 4 epochs x 10 = 40 < 300//3 = 100
    assert got["tiny"]["alloc_units"] == 40
    assert got["tiny"]["epochs_ppm"] == 4_000_000
    # remaining 260 over 2 sources: share 130 each; mid caps at 400 (no),
    # 130 < 400 -> mid gets 130, big gets 130
    assert got["mid"]["alloc_units"] == 130
    assert got["big"]["alloc_units"] == 130
    assert got["big"]["epochs_ppm"] == 130 * 1_000_000 // 400
    assert sum(r["alloc_units"] for r in got.values()) == 300

    with __import__("pytest").raises(ValueError):
        sampling.unimax_budget(df, budget=-1)


def test_unimax_budget_token_units(spark):
    """size_col switches the budget units to summed tokens."""
    from cubert_spark.datapipe import sampling

    df = spark.createDataFrame(
        [("a", 1, 100), ("a", 2, 100), ("b", 3, 1000)],
        "source string, doc_id long, n_toks long",
    )
    got = {r["source"]: r.asDict()
           for r in sampling.unimax_budget(
               df, size_col="n_toks", budget=600, max_epochs=2).collect()}
    # a: 200 tokens, cap 400; share 300 -> capped? 400 > 300 -> a=300
    # ... visit order ascending by cap: a (400) then b (2000)
    assert got["a"]["alloc_units"] == 300
    assert got["b"]["alloc_units"] == 300


def test_repeat_upsample_epoch_counts(spark):
    """repeat_upsample: full epochs always appear; the fractional
    epoch is hash-gated at the planned rate; ppm=0 drops the source;
    sub-1e6 plans downsample."""
    from cubert_spark.datapipe import sampling

    rows = [("up", i) for i in range(200)] + \
           [("down", i + 1000) for i in range(200)] + \
           [("gone", i + 5000) for i in range(50)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    out = sampling.repeat_upsample(
        df, {"up": 2_500_000, "down": 400_000, "gone": 0},
        default_ppm=1_000_000,
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["source"], []).append(r)
    assert "gone" not in by
    up_epochs = {}
    for r in by["up"]:
        up_epochs.setdefault(r["doc_id"], set()).add(r["epoch"])
    # every up doc has epochs {1,2}; ~50% also epoch 3
    assert all({1, 2} <= e for e in up_epochs.values())
    frac = sum(1 for e in up_epochs.values() if 3 in e)
    assert 60 <= frac <= 140, frac
    # down: single hash-gated epoch at ~40%
    down_n = len(by["down"])
    assert 50 <= down_n <= 110, down_n
    assert all(r["epoch"] == 1 for r in by["down"])
    # determinism: second run returns the identical multiset
    out2 = sampling.repeat_upsample(
        df, {"up": 2_500_000, "down": 400_000, "gone": 0},
        default_ppm=1_000_000,
    ).collect()
    key = lambda r: (r["source"], r["doc_id"], r["epoch"])
    assert sorted(map(key, out)) == sorted(map(key, out2))

    with __import__("pytest").raises(ValueError):
        sampling.repeat_upsample(df, {})


def test_decontaminate_spans_splits_and_windows(spark):
    """decontaminate_spans: interior collisions split the doc with
    the window removed; clean docs pass whole; fully-redacted docs
    vanish; overlapping hits merge into one span."""
    from cubert_spark.datapipe import curation

    # 30-token doc; benchmark 5-gram sits at tokens 10..14
    words = [f"w{i}" for i in range(30)]
    contaminated = " ".join(words)
    clean = " ".join(f"c{i}" for i in range(12))
    short = "a b c"
    df = spark.createDataFrame(
        [(1, contaminated), (2, clean), (3, short),
         (4, " ".join(words[10:15]))],  # the bench text itself
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, " ".join(words[10:15]))], "doc_id long, text string"
    )
    out = curation.decontaminate_spans(df, bench, n=5, window=2)
    by = {}
    for r in out.collect():
        by.setdefault(r["doc_id"], []).append(r.asDict())

    # doc 1: hit at pos 10 -> remove [8, 17) -> pieces [0,8) and [17,30)
    p1 = sorted(by[1], key=lambda r: r["piece_id"])
    assert [(r["start_tok"], r["end_tok"]) for r in p1] == [(0, 8), (17, 30)]
    assert p1[0]["piece_text"] == " ".join(words[0:8])
    assert p1[1]["piece_text"] == " ".join(words[17:30])
    assert all(r["n_pieces"] == 2 for r in p1)
    # doc 2: untouched single piece, full range
    assert by[2] == [dict(doc_id=2, piece_id=1, start_tok=0, end_tok=12,
                          piece_text=clean, n_pieces=1)]
    # doc 3: shorter than n -> whole-doc piece
    assert by[3][0]["piece_text"] == short
    # doc 4: the bench text itself -> fully redacted, no rows
    assert 4 not in by

    with __import__("pytest").raises(ValueError):
        curation.decontaminate_spans(df, bench, n=0)


def test_decontaminate_spans_merges_overlapping_hits(spark):
    """Two overlapping collisions collapse into one removal span."""
    from cubert_spark.datapipe import curation

    words = [f"w{i}" for i in range(40)]
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    # bench grams hit at pos 10 and pos 13 (overlapping 5-gram spans)
    bench = spark.createDataFrame(
        [(100, " ".join(words[10:15])), (101, " ".join(words[13:18]))],
        "doc_id long, text string",
    )
    out = sorted(
        curation.decontaminate_spans(df, bench, n=5, window=1).collect(),
        key=lambda r: r["piece_id"],
    )
    # spans [9,16) and [12,19) merge -> remove [9,19)
    assert [(r["start_tok"], r["end_tok"]) for r in out] == [(0, 9), (19, 40)]
    assert all(r["n_pieces"] == 2 for r in out)


def test_gopher_repetition_signals(spark):
    """gopher_repetition: each signal family exercised by a targeted
    document and the ppm integers replayed literally."""
    from cubert_spark.datapipe import textstats

    rows = [
        # 2 identical lines of 6 chars + 1 distinct line: dup_line
        # 1/3, dup_line_char 6/(6+6+18)
        (1, "aa bb\naa bb\nunique line here tok"),
        # fully repetitive: every 5..10-gram duplicated, coverage 1.0
        (2, ("x y z " * 20).strip()),
        # all-distinct text: zero dup signals
        (3, "all distinct words only once here today friend"),
        (4, None),
        # duplicate paragraphs
        (5, "p q r\n\np q r\n\nsolo para"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in textstats.gopher_repetition(df).collect()
    }
    assert got[1]["dup_line_ppm"] == 1_000_000 // 3
    assert got[1]["dup_line_char_ppm"] == 5 * 1_000_000 // (5 + 5 + 20)
    assert got[2]["dup5_char_ppm"] == 1_000_000
    assert got[2]["dup10_char_ppm"] == 1_000_000
    # top bigram: "x y" (or tie) 20 occurrences x 2 chars / 60 chars
    assert got[2]["top2_char_ppm"] == 40 * 1_000_000 // 60
    assert got[2]["keep"] is False
    assert got[3]["dup5_char_ppm"] == 0
    # top bigram of an all-distinct doc: count 1, tie -> lexicographic
    # smallest gram "all distinct" (11 chars) over 39 token chars
    assert got[3]["top2_char_ppm"] == 11 * 1_000_000 // 39
    # null text: every signal 0, every rule passes
    assert got[4]["keep"] is True
    assert all(v == 0 for k, v in got[4].items()
               if k.endswith("_ppm"))
    assert got[5]["dup_para_ppm"] == 1_000_000 // 3
    assert got[5]["dup_line_ppm"] == 1_000_000 // 3


def test_refinedweb_lines_rules(spark):
    """refinedweb_lines: each removal rule fires on a targeted line;
    the 5% char budget drops heavy-junk docs; clean docs pass."""
    from cubert_spark.datapipe import curation

    body = "this is a perfectly normal line of prose text with words"
    rows = [
        (1, body + "\n42 likes"),              # counter -> removed
        (2, body + "\nNAV HEADER BLOCK"),      # mainly upper -> removed
        (3, body + "\n2 024"),                 # numeric-only -> removed
        (4, body + "\nHome"),                  # one word -> removed
        (5, body),                             # untouched
        (6, "SHOUTING JUNK EVERYWHERE\nok"),   # junk dominates -> drop
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.refinedweb_lines(df).collect()
    }
    for d in (1, 2, 3, 4):
        assert got[d]["n_removed"] == 1, d
        assert got[d]["clean_text"] == body, d
    # removed mass is small relative to the body -> doc 1 keeps...
    assert got[1]["keep"] is False or got[1]["removed_char_ppm"] > 50_000
    assert got[5] == dict(doc_id=5, n_lines=1, n_removed=0,
                          removed_char_ppm=0, clean_text=body, keep=True)
    # doc 6: the junk line is most of the chars -> dropped ('ok' is
    # also a one-word stub, so everything is removed)
    assert got[6]["keep"] is False
    assert got[7]["keep"] is False and got[7]["clean_text"] == ""


def test_doremi_weights_all_null_loss_domain(spark):
    """A domain whose loss column is all NULL must fold as zero loss
    (the unimax null-size convention), not crash on int(None)."""
    from cubert_spark.datapipe import sampling

    rows = [("hard", 5000)] * 3 + [("nul", None)] * 3
    df = spark.createDataFrame(rows, "source string, excess_milli long")
    got = {r["domain"]: r.asDict() for r in sampling.doremi_weights(df).collect()}
    assert got["nul"]["lbar_milli"] == 0
    assert got["hard"]["weight_ppm"] > got["nul"]["weight_ppm"]
    # the clipped domain still keeps the smoothing floor
    assert got["nul"]["weight_ppm"] >= 100_000 // 2


def test_mixture_sample_all_null_size_source(spark):
    """A weighted source whose size_col is all NULL sums to 0: it is
    excluded from sizing T and from the output (like the no-rows
    case) instead of NULL-gating every row of the mix."""
    from cubert_spark.datapipe import sampling

    rows = [(i, "web", 10) for i in range(100)] + [
        (i + 1000, "ghost", None) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    out = sampling.mixture_sample(
        df, {"web": 0.5, "ghost": 0.5}, size_col="n_tok"
    )
    got = {r["source"] for r in out.select("source").distinct().collect()}
    assert got == {"web"}
    assert out.count() == 100  # web kept whole: it's the only constraint


def test_temperature_mix_null_source_rows_kept(spark):
    """NULL-source rows form their own deterministic group: at
    alpha=1.0 every row (null-source included) survives; at lower
    alpha the null group is downsampled like any other, never
    silently dropped wholesale by the rate join."""
    from cubert_spark.datapipe import sampling

    rows = [(i, "web") for i in range(400)] + [
        (i + 1000, None) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    assert sampling.temperature_mix(df, alpha=1.0).count() == 440
    out = sampling.temperature_mix(df, alpha=0.0)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # alpha=0 equalizes: web downsampled toward the null group's 40
    assert None in counts and counts[None] == 40
    assert counts["web"] < 100
    # schema unchanged: no helper columns leak
    assert out.columns == df.columns


def test_unicode_nfc_composes_and_counts(spark):
    """unicode_nfc: decomposed accents, the U+212B singleton, and
    Hangul jamo all compose; ASCII is untouched (changed=False); the
    codepoint delta equals the number of compositions; NULL text
    propagates as a NULL row. Cross-engine pin: DuckDB's
    nfc_normalize agrees bit-for-bit on every case."""
    import duckdb

    from cubert_spark.datapipe import curation

    rows = [
        (1, "café plain"),            # e + combining acute
        (2, "Ångstrom"),               # Angstrom singleton -> U+00C5
        (3, "각 jamo"),     # L+V+T -> U+AC01
        (4, "plain ascii"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in curation.unicode_nfc(df).collect()}
    assert got[1]["nfc_text"] == "café plain" and got[1]["changed"]
    assert got[1]["n_cp_before"] - got[1]["n_cp_after"] == 1
    assert got[2]["nfc_text"] == "Ångstrom" and got[2]["changed"]
    assert got[2]["n_cp_before"] == got[2]["n_cp_after"]  # singleton swap
    assert got[3]["nfc_text"] == "각 jamo"
    assert got[3]["n_cp_before"] - got[3]["n_cp_after"] == 2
    assert got[4]["nfc_text"] == "plain ascii" and not got[4]["changed"]
    assert got[5]["nfc_text"] is None and got[5]["changed"] is None
    con = duckdb.connect()
    for i, t in rows[:4]:
        assert (
            con.execute("select nfc_normalize(?)", [t]).fetchone()[0]
            == got[i]["nfc_text"]
        )


def test_unicode_nfc_mojibake_tier(spark):
    """fix_mojibake=True repairs the classic UTF-8-read-as-Latin-1
    double encoding (ftfy's core case) and leaves clean text alone;
    the repair only fires when the Latin-1 round-trip SHRINKS the
    text, so ordinary accented text never false-positives."""
    from cubert_spark.datapipe import curation

    mojibake = "cafÃ©"  # 'café' UTF-8 bytes read as Latin-1
    rows = [(1, mojibake), (2, "café ok"), (3, "plain")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.unicode_nfc(df, fix_mojibake=True).collect()
    }
    assert got[1]["nfc_text"] == "café" and got[1]["changed"]
    assert got[2]["nfc_text"] == "café ok" and not got[2]["changed"]
    assert got[3]["nfc_text"] == "plain" and not got[3]["changed"]


def test_bestfit_pack_no_truncation_and_best_fit_choice(spark):
    """bestfit_pack (Ding et al. 2024): every document lands WHOLE in
    exactly one bin (no straddling — the property sequence_pack lacks
    by design); the best-fit rule picks the smallest fitting residual
    with ties to the earliest bin; an oversize doc opens a private
    bin that never accepts another member."""
    from cubert_spark.datapipe import curation

    # one shard (n_shards=1) so the greedy order is fully visible:
    # lengths desc: 90, 60, 50, 40, 30 with capacity 100 ->
    #   90 -> bin0 (resid 10); 60 -> bin1 (40); 50 -> bin2 (50);
    #   40 -> bin1 (best fit: resid 40 < 50); 30 -> bin2 (resid 20)
    rows = [
        (1, " ".join(["w"] * 90)),
        (2, " ".join(["w"] * 60)),
        (3, " ".join(["w"] * 50)),
        (4, " ".join(["w"] * 40)),
        (5, " ".join(["w"] * 30)),
        (6, " ".join(["w"] * 130)),  # oversize
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.bestfit_pack(df, capacity=100, n_shards=1).collect()
    }
    # greedy order is 130, 90, 60, 50, 40, 30
    assert got[6]["bin"] == 0 and got[6]["oversize"]
    assert got[1]["bin"] == 1
    assert got[2]["bin"] == 2
    assert got[3]["bin"] == 3
    assert got[4]["bin"] == 2  # best fit: resid 40 over bin3's 50
    assert got[5]["bin"] == 3  # resid 20... bin3 resid 50 -> 20
    # nothing shares the oversize doc's bin
    assert sum(1 for v in got.values() if v["bin"] == 0) == 1
    # per-bin loads never exceed capacity except the oversize single
    from collections import defaultdict

    loads = defaultdict(int)
    for v in got.values():
        loads[v["bin"]] += v["n_tokens"]
    assert all(l <= 100 for b, l in loads.items() if b != 0)


def test_bestfit_pack_is_partition_independent(spark):
    """The shard hash (not arrival order) drives assignment: the same
    corpus repartitioned arbitrarily packs identically."""
    from cubert_spark.datapipe import curation

    rows = [(i, " ".join(["w"] * (10 + (i * 7) % 90))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        map(tuple, curation.bestfit_pack(df, capacity=128, n_shards=4).collect())
    )
    b = sorted(
        map(
            tuple,
            curation.bestfit_pack(
                df.repartition(13), capacity=128, n_shards=4
            ).collect(),
        )
    )
    assert a == b


def test_margin_align_mutual_best_and_hubness(spark):
    """margin_align (Artetxe & Schwenk 2019): a planted translation
    pair with the highest mutual cosine is mined; a HUB vector that
    is everyone's near-neighbor is demoted by the margin
    normalization (its avg_k is high, so its margin stays ~1) while
    the planted pair's margin clears the threshold; output is
    deterministic under repartitioning."""
    from cubert_spark.datapipe import similarity

    dim = 8

    def v(*idx, scale=1.0):
        out = [0.0] * dim
        for i in idx:
            out[i] = scale
        return out

    # x side (even ids): x0 aligned with y1; x2/x4 point at the hub axis
    # y side (odd ids): y1 is x0's pair; y3 is a hub (moderate cos to all)
    rows = [
        (0, v(0, 1)),            # x0 ~ y1
        (2, v(2, 7)),
        (4, v(3, 7)),
        (1, v(0, 1)),            # y1 == x0 direction (planted pair)
        (3, v(7)),               # hub: shares axis 7 with x2, x4
        (5, v(4)),
        (7, v(5)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    x = df.filter(F.col("vec_id") % 2 == 0)
    y = df.filter(F.col("vec_id") % 2 == 1)
    out = {
        (r["x_id"], r["y_id"]): r["margin"]
        for r in similarity.margin_align(
            x, y, k=2, margin_threshold=1.0, max_x=None
        ).collect()
    }
    assert (0, 1) in out and out[(0, 1)] > 1.0
    # determinism under repartition
    out2 = {
        (r["x_id"], r["y_id"]): r["margin"]
        for r in similarity.margin_align(
            x.repartition(5), y.repartition(3), k=2, margin_threshold=1.0,
            max_x=None,
        ).collect()
    }
    assert out == out2


def test_margin_align_guard_raises_on_huge_x(spark):
    from cubert_spark.datapipe import similarity

    x = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 4).alias("embedding"),
    )
    import pytest

    with pytest.raises(Exception, match="margin_align"):
        similarity.margin_align(x, x, max_x=10).collect()


def test_adaptive_quality_cut_per_group_rank_rule(spark):
    """adaptive_quality_cut (FineWeb-2 per-language thresholds): each
    group drops its own bottom drop_ppm by (score, id) rank — a group
    whose scores would all clear another group's threshold still
    loses its bottom fraction; floor() keeps at least the top row;
    drop_ppm=0 keeps everything; out-of-range drop_ppm raises."""
    import pytest

    from cubert_spark.datapipe import sampling

    rows = [("en", i, 100 + i) for i in range(10)] + [
        ("fr", 100 + i, 1000 + i) for i in range(4)
    ] + [("io", 999, 1)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_chars int")
    out = sampling.adaptive_quality_cut(df, drop_ppm=300_000)
    got = {r["doc_id"]: r["grp_rank"] for r in out.collect()}
    # en: 10 docs, floor(3.0)=3 dropped -> ranks 4..10 survive
    assert {d for d in got if d < 100} == {3, 4, 5, 6, 7, 8, 9}
    # fr: 4 docs (all higher-scoring than en), floor(1.2)=1 dropped
    assert {d for d in got if 100 <= d < 999} == {101, 102, 103}
    # singleton group: floor(0.3)=0 dropped — survives
    assert 999 in got and got[999] == 1
    assert sampling.adaptive_quality_cut(df, drop_ppm=0).count() == 15
    with pytest.raises(ValueError, match="drop_ppm"):
        sampling.adaptive_quality_cut(df, drop_ppm=1_000_000)


def test_adaptive_cut_salted_two_phase_on_planted_skew(spark):
    """r14 VERDICT task 4: with one language at 80% of the corpus
    (the English-heavy-crawl COMMON case at 100 TB), salted=True runs
    the two-phase rank — and is RESULT-IDENTICAL to the unsalted
    window, including score ties and a NULL score (NULLS FIRST
    convention), while the row-bearing shuffle keys on (group,
    bucket) so the hot group spreads over salt_buckets tasks."""
    from cubert_spark.datapipe import sampling
    from cubert_spark.plans.assertions import explain_str

    rows = []
    for i in range(1000):
        lang = "en" if i % 10 < 8 else ("fr" if i % 2 == 0 else "de")
        score = (i * 37) % 199  # plants plenty of score ties
        rows.append((i, lang, score))
    rows.append((2000, "en", None))  # NULL score ranks first, dropped
    # a group whose scores are ALL NULL must not lose rows (NULL
    # percentile bounds -> NULL bucket was a silent-drop edge)
    rows += [(3000, "xx", None), (3001, "xx", None), (3002, "xx", None)]
    # a NULL GROUP key (undetected-language docs) is part of the NULL
    # language too: the unsalted window ranks it as its own partition,
    # so the salted path's broadcast joins must be null-SAFE or every
    # NULL-lang row silently vanishes (r15 ADVICE)
    rows += [(4000 + i, None, 50 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars int")

    base = sampling.adaptive_quality_cut(df, drop_ppm=300_000)
    salt = sampling.adaptive_quality_cut(
        df, drop_ppm=300_000, salted=True, salt_buckets=8
    )
    key = lambda r: (r["lang"], r["grp_rank"])  # noqa: E731
    b = sorted(map(tuple, base.select("doc_id", "lang", "grp_rank").collect()))
    s = sorted(map(tuple, salt.select("doc_id", "lang", "grp_rank").collect()))
    assert b == s and len(b) > 0
    assert salt.schema["grp_rank"].dataType == base.schema["grp_rank"].dataType

    # plan pin: the hot group's row-bearing window shuffle is SALTED —
    # it partitions on (lang, __b), never lang alone
    plan = explain_str(salt)
    assert "hashpartitioning(lang" in plan
    win_parts = [
        ln for ln in plan.splitlines() if "hashpartitioning(lang" in ln
    ]
    assert any("__b" in ln for ln in win_parts), plan


def test_kneser_ney_lm_identities_and_hand_values(spark):
    """Interpolated KN (Kneser & Ney 1995): on 'a b a b c', c(a,b)=2,
    c(b,a)=1, c(b,c)=1 — check the exact D=3/4 arithmetic, and the
    sum-to-1-per-context identity: sum over observed w of
    (prob - lam*pcont) plus lam*1 (sum of pcont over the continuation
    vocab is 1 by construction) must be exactly 1 per context."""
    from cubert_spark.datapipe.lm import kneser_ney_lm

    d = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    m = {(r["v"], r["w"]): r for r in kneser_ney_lm(d).collect()}
    # contexts: a -> {b:2} (c_a=2, N1+(a.)=1); b -> {a:1, c:1}
    # (c_b=2, N1+(b.)=2); continuation: N1+(.b)=1, N1+(.a)=1,
    # N1+(.c)=1; N1+(..)=3
    ab = m[("a", "b")]
    assert ab["c_vw"] == 2
    assert ab["lambda_v"] == (3 * 1) / (4 * 2)
    assert ab["pcont_w"] == 1 / 3
    assert ab["prob"] == (4 * 2 - 3) / (4 * 2) + (3 / 8) * (1 / 3)
    ba = m[("b", "a")]
    assert ba["lambda_v"] == (3 * 2) / (4 * 2)
    assert ba["prob"] == (4 * 1 - 3) / (4 * 2) + (6 / 8) * (1 / 3)
    # sum-to-1 identity per context
    import collections

    by_v = collections.defaultdict(list)
    for (v, w), r in m.items():
        by_v[v].append(r)
    for v, rows in by_v.items():
        lam = rows[0]["lambda_v"]
        total = sum(r["prob"] - lam * r["pcont_w"] for r in rows) + lam
        assert abs(total - 1.0) < 1e-9, (v, total)


def test_kneser_ney_trigram_hand_values_and_sum_to_one(spark):
    """Order-3 recursive KN on 'a b a b c' (trigrams aba/bab/abc):
    hand-checked D=3/4 arithmetic at every level — top raw counts,
    middle continuation counts N1+(.g) off the raw trigram table,
    unigram p_cont off the bigram table — plus the per-context
    sum-to-1 identity and order-2/order<2 contract checks."""
    import pytest

    from cubert_spark.datapipe.lm import kneser_ney_lm

    d = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    rows = kneser_ney_lm(d, order=3).collect()
    m = {(r["w1"], r["w2"], r["w3"]): r for r in rows}
    assert set(m) == {("a", "b", "a"), ("b", "a", "b"), ("a", "b", "c")}
    # context (a,b): den=2, typ=2 -> t3=1/8, lam=3/4; level-2 grams
    # (b,a)/(b,c): nc2=1, den2(b)=2, typ2=2 -> t2=1/8, lam2=3/4;
    # p1 = 1/3 each -> p_backoff=0.375, prob=1/8 + 0.75*0.375
    for w3 in ("a", "c"):
        r = m[("a", "b", w3)]
        assert r["c"] == 1
        assert r["lambda_top"] == 0.75
        assert r["p_backoff"] == 0.375
        assert r["prob"] == 0.40625
    # context (b,a): den=1, typ=1 -> t3=1/4, lam=3/4; gram (a,b):
    # nc2=1, den2(a)=1, typ2=1 -> t2=1/4, lam2=3/4; p1(b)=1/3
    r = m[("b", "a", "b")]
    assert r["p_backoff"] == 0.5 and r["prob"] == 0.625
    # sum-to-1 per context: sum over observed w of (prob - lam*pbk)
    # plus lam*1 (continuation probs sum to 1 over the vocab)
    import collections

    by_ctx = collections.defaultdict(list)
    for (w1, w2, _), r in m.items():
        by_ctx[(w1, w2)].append(r)
    for ctx, rs in by_ctx.items():
        lam = rs[0]["lambda_top"]
        tot = sum(r["prob"] - lam * r["p_backoff"] for r in rs) + lam
        assert abs(tot - 1.0) < 1e-12, (ctx, tot)
    # order=2 keeps the bigram schema; order<2 raises
    assert set(kneser_ney_lm(d, order=2).columns) == {
        "v", "w", "c_vw", "prob", "lambda_v", "pcont_w"
    }
    with pytest.raises(ValueError, match="order"):
        kneser_ney_lm(d, order=1)


def test_kneser_ney_order4_identities(spark):
    """The recursion generalizes past 3: order-4 on a 2-doc corpus
    still satisfies the per-context sum-to-1 identity, probabilities
    are in (0,1], and every observed 4-gram appears exactly once."""
    from cubert_spark.datapipe.lm import kneser_ney_lm

    docs = [
        (1, "a b a b c a b a d e"),
        (2, "b c a b a d a b c e"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    rows = kneser_ney_lm(d, order=4).collect()
    assert len(rows) == len({(r["w1"], r["w2"], r["w3"], r["w4"]) for r in rows})
    assert all(0.0 < r["prob"] <= 1.0 for r in rows)
    import collections

    by_ctx = collections.defaultdict(list)
    for r in rows:
        by_ctx[(r["w1"], r["w2"], r["w3"])].append(r)
    for ctx, rs in by_ctx.items():
        lam = rs[0]["lambda_top"]
        tot = sum(r["prob"] - lam * r["p_backoff"] for r in rs) + lam
        assert abs(tot - 1.0) < 1e-12, (ctx, tot)


def test_canonical_url_merges_and_preserves(spark):
    """canonical_url merges what URL semantics say is identical
    (case of scheme/host, :80/:443, //, trailing /, fragments,
    tracking params) and preserves what is not (path case, param
    ORDER, non-default ports, differing param values)."""
    from cubert_spark.datapipe.curation import canonical_url

    cases = [
        ("HTTP://WWW.Ex.COM:80/a//b/?utm_source=x&id=1&fbclid=z#f",
         "http://www.ex.com/a/b?id=1"),
        ("http://www.ex.com/a/b?id=1", "http://www.ex.com/a/b?id=1"),
        ("https://ex.com:443", "https://ex.com/"),
        # default-port strip is scheme-sensitive: :443 under http and
        # :80 under https are REAL non-default ports (r15 ADVICE)
        ("http://ex.com:443/p", "http://ex.com:443/p"),
        ("https://ex.com:80/p", "https://ex.com:80/p"),
        ("https://ex.com:8080/P", "https://ex.com:8080/P"),  # case kept
        ("https://ex.com/x?b=2&a=1", "https://ex.com/x?b=2&a=1"),  # order kept
        ("https://ex.com/x?utm_campaign=only", "https://ex.com/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def test_url_dedup_keeps_min_id_per_canonical(spark):
    from cubert_spark.datapipe.curation import url_dedup

    df = spark.createDataFrame(
        [
            (5, "http://ex.com/a?utm_source=t"),
            (3, "HTTP://EX.com:80/a#frag"),
            (9, "http://ex.com/b"),
        ],
        "doc_id long, url string",
    )
    got = {r["canonical_url"]: r for r in url_dedup(df).collect()}
    assert got["http://ex.com/a"]["kept_doc_id"] == 3
    assert got["http://ex.com/a"]["n_dups"] == 2
    assert got["http://ex.com/b"]["n_dups"] == 1


def test_span_corruption_plan_properties(spark):
    """Spans: one per FULL 16-token window, inside their window
    (never overlapping, never crossing the doc end), trailing partial
    window unmasked, short docs absent; deterministic across
    repartition; invalid geometry raises."""
    import pytest

    from cubert_spark.datapipe.curation import span_corruption

    docs = [
        (1, " ".join(f"t{i}" for i in range(40))),  # 2 windows + tail 8
        (2, " ".join(f"t{i}" for i in range(16))),  # exactly 1 window
        (3, "short doc only"),  # no full window
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = span_corruption(df, window=16, span_len=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(by_doc) == [1, 2]
    assert len(by_doc[1]) == 2 and len(by_doc[2]) == 1
    for r in rows:
        lo = r["span_id"] * 16
        assert lo <= r["start"] <= lo + 16 - 3
        assert r["length"] == 3
    # deterministic under repartition
    again = span_corruption(df.repartition(7), window=16, span_len=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    with pytest.raises(ValueError, match="span_len"):
        span_corruption(df, window=4, span_len=5)


def test_linear_probe_train_descends_and_is_partition_invariant(spark):
    """Full-batch GD: the per-epoch mse (loss under pre-update
    weights) strictly decreases on a learnable signal, and the whole
    weight trajectory is BIT-identical under repartition (the sorted
    two-level fold contract — a plain double sum would not be)."""
    import pytest

    from cubert_spark.datapipe.probe import linear_probe_train

    # features scaled to ~[0,1]: full-batch GD at lr=1/8 needs
    # 2*lr*E[x^2] < 2 to contract — unscaled [0,9] features diverge
    rows = [(i, (i % 10) / 10.0, 1.0 if i % 10 >= 5 else 0.0) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, x double, y double")
    out = linear_probe_train(df, ["x"], "y", id_col="doc_id", epochs=4)
    mses = [r["mse"] for r in out.orderBy("epoch").collect()]
    assert all(b < a for a, b in zip(mses, mses[1:])), mses
    out2 = linear_probe_train(
        df.repartition(13), ["x"], "y", id_col="doc_id", epochs=4
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))
    with pytest.raises(ValueError, match="epochs"):
        linear_probe_train(df, ["x"], "y", epochs=0)
    with pytest.raises(ValueError, match="feature_cols"):
        linear_probe_train(df, [], "y")


def test_logistic_probe_descends_and_matches_table_sigmoid(spark):
    """Logistic GD via the fastText table sigmoid: the Brier score
    decreases on a separable signal, the trajectory is bit-identical
    under repartition, epoch-1 gradients equal the hand value (z=0 ->
    p=0.5 everywhere), and the clip branches (|z| >= 8) hit exactly
    0/1 probabilities."""
    import pytest

    from cubert_spark.datapipe.probe import (
        MAX_SIGMOID,
        SIGMOID_TABLE_SIZE,
        logistic_probe_train,
        sigmoid_table,
    )

    t = sigmoid_table()
    assert len(t) == SIGMOID_TABLE_SIZE + 1
    assert t[SIGMOID_TABLE_SIZE // 2] == 0.5  # sigma(0) exactly
    assert t[0] < 1e-3 and t[-1] > 1 - 1e-3
    rows = [
        (i, (i % 10) / 10.0, 1.0 if i % 10 >= 5 else 0.0) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, x double, y double")
    out = logistic_probe_train(df, ["x"], "y", id_col="doc_id", epochs=8)
    got = out.orderBy("epoch").collect()
    briers = [r["brier"] for r in got]
    # table quantization holds p at 0.5 until |z| crosses a 1/32 bin
    # (fastText behaves identically), so early epochs are FLAT, never
    # worse — then the accumulated weights cross a bin and descend
    assert all(b <= a for a, b in zip(briers, briers[1:])), briers
    assert briers[-1] < briers[0], briers
    # epoch 1: z=0 -> p=0.5; g0 = mean(0.5 - y) = 0.5 - 0.5 = 0;
    # brier = mean((0.5-y)^2) = 0.25; w0 stays 0, w_x moves
    assert got[0]["brier"] == 0.25
    assert got[0]["w0"] == 0.0 and got[0]["w_x"] != 0.0
    out2 = logistic_probe_train(
        df.repartition(13), ["x"], "y", id_col="doc_id", epochs=8
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, out2.collect())
    )
    # clip: giant features drive |z| past MAX_SIGMOID after one step,
    # and the run still completes with finite weights
    big = spark.createDataFrame(
        [(i, 100.0 * MAX_SIGMOID * (1 if i % 2 else -1), float(i % 2))
         for i in range(20)],
        "doc_id long, x double, y double",
    )
    rb = logistic_probe_train(big, ["x"], "y", epochs=2).collect()
    assert all(abs(r["w_x"]) < float("inf") for r in rb)
    with pytest.raises(ValueError, match="epochs"):
        logistic_probe_train(df, ["x"], "y", epochs=0)
    with pytest.raises(ValueError, match="feature_cols"):
        logistic_probe_train(df, [], "y")


def test_ict_pairs_query_context_split(spark):
    """ict_pairs: the query is one pseudo-sentence, the context is
    the rest in original order (query re-included only when the keep
    draw fires), single-sentence docs are absent, and pairs replay
    bit-for-bit under repartition; invalid geometry raises."""
    import pytest

    from cubert_spark.datapipe.curation import ict_pairs

    docs = [
        (1, " ".join(f"t{i}" for i in range(30))),  # 3 sentences
        (2, " ".join(f"u{i}" for i in range(12))),  # exactly 1 -> absent
        (3, "short doc"),  # 1 partial sentence -> absent
        (4, " ".join(f"v{i}" for i in range(25))),  # 3 (last partial)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in ict_pairs(df).collect()}
    assert set(rows) == {1, 4}
    for did, r in rows.items():
        toks = dict(docs)[did].split(" ")
        sents = [
            " ".join(toks[i : i + 12]) for i in range(0, len(toks), 12)
        ]
        assert r["n_sent"] == len(sents)
        assert 0 <= r["query_idx"] < len(sents)
        assert r["query"] == sents[r["query_idx"]]
        if r["kept_in_context"]:
            expect = " ".join(sents)
        else:
            expect = " ".join(
                s for i, s in enumerate(sents) if i != r["query_idx"]
            )
        assert r["context"] == expect
    again = {
        r["doc_id"]: r for r in ict_pairs(df.repartition(7)).collect()
    }
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }
    with pytest.raises(ValueError, match="sent_len"):
        ict_pairs(df, sent_len=0)
    with pytest.raises(ValueError, match="keep_one_in"):
        ict_pairs(df, keep_one_in=0)


def test_bitext_filter_rules(spark):
    """bitext_filter: each hard rule fires on its planted violation
    and a clean pair passes; the ratio rule is the integer
    cross-multiply (boundary: 8 vs 4 tokens passes at ratio 2, 9 vs
    4 fails)."""
    import pytest

    from cubert_spark.datapipe.curation import bitext_filter

    pairs = [
        (1, "a b c d e", "v w x y z"),  # clean -> pass
        (2, "a b c d", "A B C D"),  # identical (case-folded)
        (3, "a b c d e f", "x y"),  # too short + ratio
        (4, "pay 12 euros now", "paga 21 euros ahora"),  # digit seq diff
        (5, "pay 12 euros now", "paga 12 euros ahora"),  # digits match
        (6, "a b c d e f g h", "w x y z"),  # 8 vs 4: ratio edge, ok
        (7, "a b c d e f g h i", "w x y z"),  # 9 vs 4: ratio fail
    ]
    df = spark.createDataFrame(
        pairs, "pair_id long, src_text string, tgt_text string"
    )
    got = {r["pair_id"]: r for r in bitext_filter(df).collect()}
    assert got[1]["pass"] and not got[1]["identical"]
    assert got[2]["identical"] and not got[2]["pass"]
    assert got[3]["too_short"] and not got[3]["ratio_ok"]
    assert not got[4]["digit_ok"] and not got[4]["pass"]
    assert got[5]["digit_ok"] and got[5]["pass"]
    assert got[6]["ratio_ok"] and got[6]["pass"]
    assert not got[7]["ratio_ok"] and not got[7]["pass"]
    with pytest.raises(ValueError, match="max_ratio"):
        bitext_filter(df, max_ratio=0)


def test_code_detect_rule_and_language_argmax(spark):
    """code_detect: the integer density rule (1% structural signals +
    absolute floor 5) and the fixed-priority language argmax — prose
    stays prose even with one semicolon; each planted snippet routes
    to its language; ties resolve python > js > java > c."""
    from cubert_spark.datapipe.textstats import code_detect

    docs = [
        (1, "plain prose with one ; semicolon " * 3),
        (2, "def f(x):\n  import os\n  v = {1: 2};\n  w = {3: 4};\n  return v;"),
        (3, "const f = (x) => { return x; }; var y = f(1); var z = y;;"),
        (4, "#include <x>\nint main() { int* p = a->b; printf(s); malloc(4); }"),
        # tie between python and js signals -> python wins by priority
        (5, "def a\ndef b\nfunction c\nfunction d\n{};{};{};"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in code_detect(df).collect()}
    assert not got[1]["is_code"] and got[1]["code_lang"] is None
    assert got[2]["is_code"] and got[2]["code_lang"] == "python"
    assert got[3]["is_code"] and got[3]["code_lang"] == "js"
    assert got[4]["is_code"] and got[4]["code_lang"] == "c"
    assert got[5]["is_code"] and got[5]["code_lang"] == "python"
    assert got[2]["n_braces"] == 4 and got[2]["n_semis"] == 3
    assert got[2]["n_indent_lines"] == 4  # import/v/w/return lines


def test_vocab_growth_curve_hand_example(spark):
    """Heaps curve on a hand corpus: cum_vocab counts a token in the
    bucket of its FIRST occurrence only; cum_tokens counts every
    occurrence; both are running sums over doc-id-prefix buckets."""
    import pytest

    from cubert_spark.datapipe.textstats import vocab_growth

    docs = [
        (0, "a b a"),      # bucket 0: tokens a,b,a -> vocab {a,b}
        (1, "b c"),        # bucket 0: +c
        (2, "a c d"),      # bucket 1: +d
        (3, "d d d"),      # bucket 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["bucket"]: r for r in vocab_growth(df, bucket_docs=2).collect()}
    assert got[0]["cum_tokens"] == 5 and got[0]["cum_vocab"] == 3
    assert got[1]["cum_tokens"] == 11 and got[1]["cum_vocab"] == 4  # {a,b,c,d}
    with pytest.raises(ValueError, match="bucket_docs"):
        vocab_growth(df, bucket_docs=0)


def test_chat_assembly_suffix_budget_and_render(spark):
    """chat_assembly: ChatML render in turn order; the token budget
    keeps the longest SUFFIX (newest turns), never the prefix; the
    newest turn survives even alone over budget (flagged)."""
    import pytest

    from cubert_spark.datapipe.curation import chat_assembly

    rows = [
        # conv 1: 3 turns of 4/4/4 tokens, budget 8 -> keep last two
        (1, 0, "user", "a b c d"),
        (1, 1, "assistant", "e f g h"),
        (1, 2, "user", "i j k l"),
        # conv 2: single turn over budget -> kept, truncated=True
        (2, 0, "user", " ".join(f"t{i}" for i in range(20))),
        # conv 3: fits whole -> truncated=False
        (3, 0, "user", "hi"),
        (3, 1, "assistant", "hello there"),
    ]
    df = spark.createDataFrame(rows, "conv_id long, turn long, role string, text string")
    got = {r["conv_id"]: r for r in chat_assembly(df, max_tokens=8).collect()}
    c1 = got[1]
    assert c1["n_turns_total"] == 3 and c1["n_turns_kept"] == 2
    assert c1["n_tokens_kept"] == 8 and c1["truncated"]
    assert c1["text"] == (
        "<|im_start|>assistant\ne f g h<|im_end|>\n"
        "<|im_start|>user\ni j k l<|im_end|>"
    )
    assert got[2]["n_turns_kept"] == 1 and got[2]["truncated"]
    assert got[3]["n_turns_kept"] == 2 and not got[3]["truncated"]
    assert got[3]["text"].startswith("<|im_start|>user\nhi<|im_end|>")
    with pytest.raises(ValueError, match="max_tokens"):
        chat_assembly(df, max_tokens=0)


def test_chat_assembly_null_text_counts_zero_tokens(spark):
    """NULL-text turns count as 0 tokens (the bestfit_pack NULL
    convention, r15 ADVICE): a conversation whose kept turns ALL have
    NULL text must report n_tokens_kept=0 (not NULL) and
    truncated=False — this is the exact case where Spark's
    conditional SUM (0) and an uncoalesced SQL SUM (NULL) diverge."""
    from cubert_spark.datapipe.curation import chat_assembly

    rows = [
        (1, 0, "user", None),
        (1, 1, "assistant", None),
        (2, 0, "user", "a b"),
        (2, 1, "assistant", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id long, turn long, role string, text string"
    )
    got = {r["conv_id"]: r for r in chat_assembly(df, max_tokens=8).collect()}
    c1 = got[1]
    assert c1["n_turns_kept"] == 2
    assert c1["n_tokens_kept"] == 0 and c1["truncated"] is False
    # mixed NULL + real text: the NULL turn contributes 0, not NULL
    assert got[2]["n_tokens_kept"] == 2 and not got[2]["truncated"]
