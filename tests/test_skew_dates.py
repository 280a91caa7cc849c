"""Skew operators, int-date helpers, date-range loads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cubert_spark.functions.registry import date_to_yyyymmdd, yyyymmdd_to_date
from cubert_spark.operators.skew import salted_count_distinct, salted_topn


def test_salted_count_distinct_matches_plain(spark):
    # hot key: 0 carries 80% of rows
    rows = [(0 if i % 5 else i % 7, i % 97) for i in range(5000)]
    df = spark.createDataFrame(rows, "k int, m int")
    plain = {
        r["k"]: r["cd"]
        for r in df.groupBy("k").agg(F.countDistinct("m").alias("cd")).collect()
    }
    salted = {
        r["k"]: r["count_distinct_m"]
        for r in salted_count_distinct(df, ["k"], "m", num_salts=8).collect()
    }
    assert salted == plain


def test_salted_count_distinct_extra_aggs(spark):
    df = spark.createDataFrame([(1, 5, 2.0), (1, 5, 3.0), (2, 6, 4.0)], "k int, m int, v double")
    out = {
        r["k"]: (r["count_distinct_m"], r["sv"])
        for r in salted_count_distinct(
            df, ["k"], "m", num_salts=4, extra_aggs=[F.sum("v").alias("sv")]
        ).collect()
    }
    assert out == {1: (1, 5.0), 2: (1, 4.0)}


def test_salted_topn_matches_plain(spark):
    rows = [(i % 3, i, float((i * 37) % 101)) for i in range(999)]
    df = spark.createDataFrame(rows, "k int, id int, v double")
    order = [F.col("v").desc(), F.col("id")]
    from cubert_spark.operators import top_n

    plain = {(r["k"], r["id"]) for r in top_n(df, 5, ["k"], order).collect()}
    salted = {(r["k"], r["id"]) for r in salted_topn(df, 5, ["k"], order, num_salts=4).collect()}
    assert salted == plain


def test_int_date_roundtrip(spark):
    df = spark.createDataFrame([(20240131,), (19991231,)], "d int")
    out = df.select(
        yyyymmdd_to_date(F.col("d")).alias("dt")
    ).select(date_to_yyyymmdd(F.col("dt")).alias("back"), "dt")
    rows = {r["back"]: str(r["dt"]) for r in out.collect()}
    assert rows == {20240131: "2024-01-31", 19991231: "1999-12-31"}


def test_load_date_range(spark, tmp_path):
    from cubert_spark.catalog import load_date_range

    for day, n in [("2024-01-01", 2), ("2024-01-02", 3), ("2024-01-05", 4)]:
        spark.range(n).withColumn("day", F.lit(day)).write.parquet(
            str(tmp_path / f"daily/{day}")
        )
    df = load_date_range(
        spark, str(tmp_path / "daily/{date}"), "2024-01-01", "2024-01-03"
    )
    assert df.count() == 5  # jan 3-4 missing -> skipped
    with pytest.raises(FileNotFoundError):
        load_date_range(spark, str(tmp_path / "daily/{date}"), "2024-02-01", "2024-02-03")

    # the day paths follow single-path LOAD's format rules: TEXT is
    # tab-separated and takes a schema, AVRO routes to cubert_avro
    from cubert_spark.catalog import store

    for day, n in [("2024-01-01", 2), ("2024-01-02", 3)]:
        (tmp_path / f"text/{day}").mkdir(parents=True)
        (tmp_path / f"text/{day}/part.txt").write_text(
            "".join(f"{day}\t{i}\n" for i in range(n))
        )
        store(
            spark.range(n).selectExpr("CAST(id AS INT) AS c", f"'{day}' AS day"),
            str(tmp_path / f"avro/{day}"),
            fmt="avro",
        )
    text = load_date_range(
        spark, str(tmp_path / "text/{date}"), "2024-01-01", "2024-01-03",
        fmt="text", schema="STRING w, INT c",
    )
    assert text.columns == ["w", "c"]
    assert sorted(tuple(r) for r in text.collect()) == [
        ("2024-01-01", 0), ("2024-01-01", 1),
        ("2024-01-02", 0), ("2024-01-02", 1), ("2024-01-02", 2),
    ]
    avro = load_date_range(
        spark, str(tmp_path / "avro/{date}"), "2024-01-01", "2024-01-03", fmt="avro"
    )
    assert sorted((r.day, r.c) for r in avro.collect()) == sorted(
        (r.w, r.c) for r in text.collect()
    )


def test_profile_skew_values(spark):
    from pyspark.sql import functions as F

    from cubert_spark.operators.skew import profile_skew

    df = spark.createDataFrame(
        [("hot",)] * 80 + [("warm",)] * 15 + [(f"c{i}",) for i in range(5)],
        "k string",
    )
    out = {r.rnk: r for r in profile_skew(df, ["k"], top_k=3).collect()}
    assert len(out) == 3
    assert out[1].key_value == "hot" and out[1].cnt == 80
    assert out[2].key_value == "warm" and out[2].cnt == 15
    assert out[1].n_rows == 100 and out[1].n_keys == 7
    # skew_ratio = cnt * n_keys / n_rows: hot holds 80x the 1/7 share
    assert abs(out[1].skew_ratio - 80 * 7 / 100) < 1e-12
    # ties break by key_value ascending
    assert out[3].key_value == "c0" and out[3].cnt == 1

    # multi-column long format keeps per-column stats separate
    df2 = df.withColumn("j", F.lit(1))
    both = profile_skew(df2, ["k", "j"], top_k=2).collect()
    js = [r for r in both if r.col_name == "j"]
    assert len(js) == 1 and js[0].n_keys == 1 and abs(js[0].skew_ratio - 1.0) < 1e-12


def test_triangle_count_known_graphs(spark):
    from cubert_spark.datapipe.components import triangle_count

    def tc(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return triangle_count(df).collect()[0]

    # K4 = 4 triangles; edge list includes a reversed duplicate and a
    # self-loop which must be ignored
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = tc(k4 + [(1, 0), (2, 2)])
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)

    # a path has none; a star has none; triangle + pendant edge has 1
    assert tc([(0, 1), (1, 2), (2, 3)]).n_triangles == 0
    assert tc([(0, 1), (0, 2), (0, 3), (0, 4)]).n_triangles == 0
    r2 = tc([(0, 1), (1, 2), (0, 2), (2, 9)])
    assert (r2.n_nodes, r2.n_edges, r2.n_triangles) == (4, 4, 1)


def test_rendezvous_shard_stability(spark):
    """HRW's defining property: growing 8 -> 9 shards moves ONLY the
    keys whose rendezvous the NEW shard wins (~1/9), and every moved
    key moves TO shard 8 — mod-hashing would scatter ~8/9 of keys."""
    from cubert_spark.datapipe.sampling import rendezvous_shard

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r.k: r.shard for r in rendezvous_shard(df, "k", 8).collect()}
    b = {r.k: r.shard for r in rendezvous_shard(df, "k", 9).collect()}
    assert set(a.values()) == set(range(8))
    moved = {k for k in a if a[k] != b[k]}
    assert all(b[k] == 8 for k in moved)
    assert 0.05 < len(moved) / 2000 < 0.18  # ~1/9 expected
    # balance: no shard holds more than 2.5x the fair share
    from collections import Counter

    counts = Counter(a.values())
    assert max(counts.values()) < 2.5 * 2000 / 8


def test_epoch_shuffle_permutation_properties(spark):
    """epoch_shuffle is a deterministic permutation export: (1) same
    seed replays identically; (2) different seeds give a different
    order; (3) epoch_pos is DENSE 1..|shard| within every shard (a
    reader can stream positions with no gaps); (4) shards are
    balanced (md5 uniformity); (5) the plan pays exactly ONE Exchange
    (the shard shuffle — no global sort)."""
    from collections import Counter

    from cubert_spark.datapipe.sampling import epoch_shuffle

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    out = epoch_shuffle(df, "doc_id", 8, seed="e1")
    rows = out.collect()
    assert len(rows) == 4000
    again = {(r.doc_id): (r.shard, r.epoch_pos) for r in out.collect()}
    assert all(again[r.doc_id] == (r.shard, r.epoch_pos) for r in rows)
    other = {
        r.doc_id: (r.shard, r.epoch_pos)
        for r in epoch_shuffle(df, "doc_id", 8, seed="e2").collect()
    }
    assert any(other[r.doc_id] != (r.shard, r.epoch_pos) for r in rows)
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.epoch_pos)
    assert set(by_shard) == set(range(8))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    counts = Counter(r.shard for r in rows)
    assert max(counts.values()) < 1.5 * 4000 / 8
    from cubert_spark.plans.assertions import shuffle_count

    # fresh frame: an executed AQE plan prints final+initial sections
    # and double-counts its one Exchange
    assert shuffle_count(epoch_shuffle(df, "doc_id", 8, seed="e1")) == 1


def test_triangle_count_random_graphs_vs_bruteforce(spark):
    """Seeded Erdos-Renyi graphs: the oriented-wedge count equals the
    O(n^3) Python brute force — cross-validates the orientation logic
    (ties, symmetric closing probes) beyond hand-picked shapes."""
    import itertools

    import numpy as np

    from cubert_spark.datapipe.components import triangle_count

    rng = np.random.default_rng(77)
    for n, p in ((12, 0.3), (15, 0.5), (10, 0.8)):
        edges = [
            (int(a), int(b))
            for a, b in itertools.combinations(range(n), 2)
            if rng.random() < p
        ]
        adj = set(edges)
        want = sum(
            1
            for a, b, c in itertools.combinations(range(n), 3)
            if (a, b) in adj and (b, c) in adj and (a, c) in adj
        )
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = triangle_count(df).collect()[0]
        assert got.n_triangles == want, (n, p, got.n_triangles, want)
        assert got.n_edges == len(edges)
