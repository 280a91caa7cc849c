"""Cubert-script (.cmr) frontend tests — the reference's own example
script runs verbatim (release/examples/wordcount.cmr), plus coverage of
the operator statements and the expression language translation."""

from __future__ import annotations

import collections
import os

import pytest

from cubert_spark.script import compile_script, run_script
from cubert_spark.script.cmr import ScriptError

REF_EXAMPLES = "/root/reference/release/examples"


@pytest.mark.skipif(
    not os.path.exists(f"{REF_EXAMPLES}/wordcount.cmr"),
    reason="reference examples not present",
)
def test_reference_wordcount_runs_verbatim(spark, tmp_path):
    """The reference's shipped example script, parsed from its own
    text: PROGRAM/SET/JOB/REDUCERS/MAP{LOAD TEXT+GENERATE}/SHUFFLE
    AGGREGATES/REDUCE{GROUP BY}/STORE TEXT."""
    with open(f"{REF_EXAMPLES}/wordcount.cmr") as f:
        text = f.read()
    out = str(tmp_path / "wc_out")
    text = text.replace('"output"', f'"{out}"')
    env = run_script(
        spark, text, params={"CUBERT_HOME": os.path.dirname(REF_EXAMPLES)}
    )
    got = {r["word"]: r["count"] for r in env["counted"].collect()}
    with open(f"{REF_EXAMPLES}/words.txt") as f:
        want = collections.Counter(w.strip() for w in f if w.strip())
    assert got == dict(want)
    assert os.path.isdir(out)  # STORE ... USING TEXT() wrote csv


def test_expression_language(spark):
    d = spark.createDataFrame(
        [("alpha", 1, {"k": "x"}), ("beta", 2, {"k": "y"}), (None, 3, None)],
        "name string, v int, tags map<string,string>",
    )
    script = """
    JOB "exprs"
      REDUCE {
        out = FROM d GENERATE name, v * 2 + 1 AS v2,
              CASE(v > 1, "hi", true, "lo") AS c,
              tags#"k" AS tk,
              name MATCHES "a.*" AS m,
              v IN (1, 2) AS iv,
              name IS NOT NULL AS nn,
              CASTTODOUBLE(v) AS vd,
              NVL(name, "missing") AS nm,
              SEQNO() AS sq;
        f = FILTER out BY name == "alpha" OR name IS NULL;
      }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    rows = {r["v2"]: r for r in env["out"].collect()}
    assert rows[3]["c"] == "lo" and rows[5]["c"] == "hi"
    assert rows[3]["tk"] == "x" and rows[7]["tk"] is None
    assert rows[3]["m"] is True
    assert rows[5]["m"] is False  # full-string match: "beta" !~ ^a.*$
    assert rows[7]["m"] is None  # null propagates
    assert rows[3]["iv"] is True and rows[7]["iv"] is False
    assert rows[7]["nn"] is False
    assert rows[3]["vd"] == 1.0
    assert rows[7]["nm"] == "missing"
    # SEQNO(): dense 1-based per task (SeqNo.java) — every value is a
    # small dense counter (1..rows-in-its-task), never a sparse
    # monotonically_increasing_id value (which exceeds 2^33 from
    # partition 1 on). Full per-task density is pinned in
    # test_schema_functions.test_seqno_dense_per_task.
    sq = [r["sq"] for r in env["out"].collect()]
    assert all(1 <= s <= 3 for s in sq), sq
    assert {r["v2"] for r in env["f"].collect()} == {3, 7}


def test_fqcn_seqno_gets_dense_rewrite(spark):
    """The package-qualified spelling (…builtin.SeqNo()) takes the
    dotted-path branch of the parser — it must get the SAME dense
    per-task rewrite as bare SEQNO(), not a literal unresolved
    SeqNo() emitted into Spark SQL (r11 review finding)."""
    d = spark.createDataFrame([("a",), ("b",)], "name string").coalesce(1)
    script = """
    JOB "fqcn"
      REDUCE {
        out = FROM d GENERATE name,
              com.linkedin.cubert.functions.builtin.SeqNo() AS sq;
      }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    assert sorted(r["sq"] for r in env["out"].collect()) == [1, 2]


def test_join_topn_rank_distinct(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k int, name string")
    b = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0), (2, 7.0), (2, 3.0)], "k2 int, v double"
    )
    script = """
    JOB "joins"
      REDUCE {
        j = JOIN LEFT OUTER a BY k, b BY k2;
        inner = JOIN a BY k, b BY k2;
        t = TOP 2 FROM inner GROUP BY k ORDER BY v;
        r = RANK t AS rnk GROUP BY k ORDER BY v;
        d = DISTINCT a;
        lim = LIMIT d 2;
      }
    END
    """
    env = run_script(spark, script, relations={"a": a, "b": b})
    assert env["j"].count() == 6  # k=3 survives LEFT OUTER
    assert env["inner"].count() == 5
    per_group = collections.Counter(r["k"] for r in env["t"].collect())
    assert per_group == {1: 2, 2: 2}
    ranks = {(r["k"], r["v"]): r["rnk"] for r in env["r"].collect()}
    assert ranks[(1, 5.0)] == 1 and ranks[(1, 10.0)] == 2
    assert env["lim"].count() == 2


def test_cube_grouping_sets_script(spark):
    d = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], "d1 string, d2 string, v int"
    )
    script = """
    JOB "cube"
      REDUCE {
        c = CUBE d BY d1, d2 AGGREGATES [SUM(v) AS s] GROUPING SETS (d1, d2), (d1), ();
      }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    got = {(r["d1"], r["d2"]): r["s"] for r in env["c"].collect()}
    assert got[("a", "x")] == 1 and got[("a", None)] == 3 and got[(None, None)] == 7
    assert len(got) == 3 + 2 + 1


def test_cube_median_script_two_level(spark):
    """MEDIAN_SUM + COUNT under a script CUBE take the two-level
    histogram plan (inner count per dims + measure below the Expand)
    and return exact medians for every cuboid."""
    import statistics

    from cubert_spark.plans import explain_str

    rows = [("a", "x", 1), ("a", "x", 4), ("a", "y", 2), ("b", "x", 4),
            ("b", "x", 9), ("b", "y", 3), ("a", "x", 1)]
    d = spark.createDataFrame(rows, "d1 string, d2 string, v int")
    script = """
    JOB "cube"
      REDUCE {
        c = CUBE d BY d1, d2 AGGREGATES [MEDIAN_SUM(v) AS med, COUNT(v) AS n];
      }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    plan = explain_str(env["c"], mode="simple")
    assert "count(1)" in plan[plan.index("Expand"):], plan
    got = {(r["d1"], r["d2"]): (r["med"], r["n"]) for r in env["c"].collect()}
    want = {}
    for k1 in ("a", "b", None):
        for k2 in ("x", "y", None):
            vs = [v for a, b, v in rows if k1 in (a, None) and k2 in (b, None)]
            if vs:
                want[(k1, k2)] = (float(statistics.median(vs)), len(vs))
    assert got == want


def test_multi_map_blocks_union(spark, tmp_path):
    """Two MAP clauses feeding one shuffle = MultiMapperSplit: the
    second LOAD of the same relation name unions into the first."""
    p1, p2 = str(tmp_path / "a.csv"), str(tmp_path / "b.csv")
    with open(p1, "w") as f:
        f.write("x\nx\ny\n")
    with open(p2, "w") as f:
        f.write("y\nz\n")
    script = f"""
    JOB "mm"
      MAP {{
        w = LOAD "{p1}" USING TEXT("schema": "STRING word");
      }}
      MAP {{
        w = LOAD "{p2}" USING TEXT("schema": "STRING word");
      }}
      SHUFFLE w PARTITIONED ON word AGGREGATES COUNT(word) AS n;
    END
    """
    env = run_script(spark, script)
    got = {r["word"]: r["n"] for r in env["w"].collect()}
    assert got == {"x": 2, "y": 2, "z": 1}


def test_tee_flatten_duplicate_gather(spark, tmp_path):
    d = spark.createDataFrame([("a b",), ("c",)], "text string")
    side = str(tmp_path / "tee_out")
    script = f"""
    JOB "rowops"
      REDUCE {{
        w = FROM d GENERATE SPLIT(text, " ") AS words;
        fl = FLATTEN w BY words BAG AS (word: STRING);
        dup = DUPLICATE fl 2 TIMES COUNTER AS c;
        t = TEE fl INTO "{side}" USING PARQUET() IF word == "a";
        g = GATHER fl, fl;
      }}
    END
    """
    env = run_script(spark, script, relations={"d": d})
    assert env["fl"].count() == 3
    assert env["dup"].count() == 6
    assert env["g"].count() == 6
    teed = spark.read.parquet(side)
    assert [r["word"] for r in teed.collect()] == ["a"]


def test_compile_only_shuffle_macros():
    """BLOCKGEN / DISTINCT / DICTIONARY / JOIN shuffle forms parse to
    the documented IR."""
    script = """
    JOB "bg"
      MAP { x = LOAD "p" USING PARQUET(); }
      BLOCKGEN x BY ROW 1000 PARTITIONED ON k SORTED ON k, t;
    END
    JOB "d"
      MAP { y = LOAD "p" USING PARQUET(); }
      DISTINCT y;
    END
    """
    prog = compile_script(script)
    bg = prog["jobs"][0]["operators"][0]
    assert bg["operator"] == "BLOCKGEN" and bg["partitionKeys"] == ["k"]
    assert bg["sortKeys"] == ["k", "t"] and bg["blockgenValue"] == "1000"
    assert prog["jobs"][1]["operators"][0]["operator"] == "DISTINCT"


def test_unregistered_user_operator_raises(spark):
    """Unknown operator names parse as uriOperator calls (grammar:133)
    and fail at run time unless registered."""
    from cubert_spark.script.plan import PlanError

    prog = compile_script('JOB "x" REDUCE { y = FROBNICATE z; } END')
    assert prog["jobs"][0]["operators"][0]["operator"] == "URI_OPERATOR"
    d = spark.range(1)
    with pytest.raises(PlanError, match="not registered"):
        run_script(spark, 'JOB "x" REDUCE { y = FROBNICATE z; } END',
                   relations={"z": d})


def test_uri_operator_registered(spark):
    """com.example.Enrich a { "factor": "3" }: user operator resolved
    from the registry — the script form of TupleOperator/BlockOperator."""
    from pyspark.sql import functions as F

    def enrich(dfs, params):
        (df,) = dfs
        return df.withColumn("v2", F.col("v") * int(params["factor"]))

    d = spark.createDataFrame([(1,), (2,)], "v int")
    script = """
    JOB "uri"
      REDUCE {
        out = com.example.Enrich d { "factor": "3" };
        out2 = Enrich out { "factor": "10" };
      }
    END
    """
    env = run_script(spark, script, relations={"d": d},
                     operators={"Enrich": enrich})
    assert {r["v2"] for r in env["out"].collect()} == {3, 6}
    # second call recomputes v2 from v on the enriched relation
    assert {r["v2"] for r in env["out2"].collect()} == {10, 20}


def test_sort_encode_noop(spark):
    d = spark.createDataFrame(
        [(2, "b"), (1, "a"), (3, "a")], "k int, name string"
    )
    script = """
    JOB "misc"
      REDUCE {
        s = SORT d ON k;
        e = ENCODE s ON name USING namedict;
        dec = DECODE e ON name USING namedict;
        n = NO_OP dec;
      }
    END
    """
    from cubert_spark.operators.dictionary import build_dictionary

    env = run_script(
        spark, script, relations={"d": d, "namedict": build_dictionary(d, "name")}
    )
    assert dict(env["e"].dtypes)["name"] in ("int", "bigint")
    assert sorted(r["name"] for r in env["dec"].collect()) == ["a", "a", "b"]
    assert env["n"].count() == 3


def test_create_dictionary_and_encode(spark):
    d = spark.createDataFrame(
        [("red", 1), ("blue", 2), ("green", 3), (None, 4)], "color string, v int"
    )
    script = """
    CREATE DICTIONARY colors
        COLUMN color VALUES "red", "blue", "green";
    JOB "enc"
      REDUCE {
        e = ENCODE d ON color USING colors;
        back = DECODE e ON color USING colors;
      }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    codes = {r["v"]: r["color"] for r in env["e"].collect()}
    assert codes[1] == 1 and codes[2] == 2 and codes[3] == 3  # listed order
    back = {r["v"]: r["color"] for r in env["back"].collect()}
    assert back[1] == "red" and back[2] == "blue"


def test_latest_path_tag(spark, tmp_path):
    from cubert_spark.catalog import resolve_latest

    for day in ("2024-01-01", "2024-02-15", "2024-02-03"):
        p = tmp_path / day
        p.mkdir()
        (p / "part.csv").write_text("x\n")
    pat = str(tmp_path / "#LATEST" / "part.csv")
    assert resolve_latest(pat) == str(tmp_path / "2024-02-15" / "part.csv")
    script = f"""
    JOB "latest"
      MAP {{
        w = LOAD "{tmp_path}/#LATEST/part.csv" USING TEXT("schema": "STRING word");
      }}
    END
    """
    env = run_script(spark, script)
    assert [r["word"] for r in env["w"].collect()] == ["x"]


def test_date_range_load(spark, tmp_path):
    """LOAD ("root", startYmd, endYmd): daily yyyyMMdd directories,
    missing days skipped (grammar:204 inputPath)."""
    for day in ("20240101", "20240102", "20240104"):
        spark.createDataFrame([(day,)], "d string").write.parquet(
            str(tmp_path / day)
        )
    script = f"""
    JOB "range"
      MAP {{
        x = LOAD ("{tmp_path}", 20240101, 20240103) USING RUBIX();
      }}
    END
    """
    env = run_script(spark, script)
    assert {r["d"] for r in env["x"].collect()} == {"20240101", "20240102"}

    # the input's schema reaches the date-range branch too
    for day in ("20240101", "20240103"):
        (tmp_path / "text" / day).mkdir(parents=True)
        (tmp_path / "text" / day / "part.txt").write_text(f"w{day}\t7\n")
    script = f"""
    JOB "range_text"
      MAP {{
        t = LOAD ("{tmp_path}/text", 20240101, 20240102) USING TEXT("schema": "STRING w, INT c");
      }}
    END
    """
    env = run_script(spark, script)
    assert [tuple(r) for r in env["t"].collect()] == [("w20240101", 7)]


def test_multi_job_dataflow(spark, tmp_path):
    """Job 2 LOADs job 1's STORE output — the reference's inter-job
    dataflow through storage (DependencyAnalyzer ordering)."""
    d = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "k int, g string")
    mid = str(tmp_path / "mid")
    script = f"""
    JOB "first"
      REDUCE {{
        agg = GROUP d BY g AGGREGATES COUNT(k) AS n;
      }}
      STORE agg INTO "{mid}" USING RUBIX();
    END

    JOB "second"
      MAP {{
        back = LOAD "{mid}" USING RUBIX();
      }}
      REDUCE {{
        top = TOP 1 FROM back GROUP BY g ORDER BY n;
      }}
    END
    """
    env = run_script(spark, script, relations={"d": d})
    got = {r["g"]: r["n"] for r in env["back"].collect()}
    assert got == {"a": 2, "b": 1}
    assert env["top"].count() == 2


def test_encode_nulls_unknowns_clauses(spark):
    """ENCODE ... NULLS AS n UNKNOWNS AS u: explicit codes for null and
    out-of-dictionary values (DictionaryEncodeOperator semantics)."""
    d = spark.createDataFrame(
        [("red", 1), (None, 2), ("mystery", 3)], "color string, v int"
    )
    script = """
    CREATE DICTIONARY colors
        COLUMN color VALUES "red", "blue";
    JOB "enc"
      REDUCE {
        e = ENCODE d ON color USING colors NULLS AS 0 UNKNOWNS AS 99;
      }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    got = {r["v"]: r["color"] for r in env["e"].collect()}
    assert got == {1: 1, 2: 0, 3: 99}


def test_flatten_bag_tuple_script(spark):
    """FLATTEN ... BAG_TUPLE AS (a: INT, b: STRING): explode a bag of
    tuples into rows AND columns."""
    d = spark.createDataFrame(
        [(1, [(10, "x"), (20, "y")]), (2, None)],
        "k int, items array<struct<a: int, b: string>>",
    )
    script = """
    JOB "ft"
      REDUCE {
        out = FLATTEN d BY items BAG_TUPLE AS (a: INT, b: STRING);
      }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    rows = {(r["k"], r["a"], r["b"]) for r in env["out"].collect()}
    # null bag -> one row with null flattened columns (reference
    # semantics, FlattenBagOperator null handling)
    assert rows == {(1, 10, "x"), (1, 20, "y"), (2, None, None)}


def test_multi_map_statements_are_mapper_local(spark, tmp_path):
    """A transform inside the second MAP block applies ONLY to that
    mapper's rows (MultiMapperSplit), not to the unioned relation."""
    p1, p2 = str(tmp_path / "a.csv"), str(tmp_path / "b.csv")
    with open(p1, "w") as f:
        f.write("keep\ndrop\n")
    with open(p2, "w") as f:
        f.write("keep\ndrop\n")
    script = f"""
    JOB "mm2"
      MAP {{
        w = LOAD "{p1}" USING TEXT("schema": "STRING word");
      }}
      MAP {{
        w = LOAD "{p2}" USING TEXT("schema": "STRING word");
        w = FILTER w BY word == "keep";
      }}
      SHUFFLE w PARTITIONED ON word AGGREGATES COUNT(word) AS n;
    END
    """
    env = run_script(spark, script)
    got = {r["word"]: r["n"] for r in env["w"].collect()}
    # mapper 1 contributes keep+drop; mapper 2's filter removes only ITS drop
    assert got == {"keep": 2, "drop": 1}


def test_join_shuffle_two_mappers(spark, tmp_path):
    """JOIN shuffle command: two MAP blocks define the same relation;
    the reducer joins the two mapper-local sides (rewriteJoin)."""
    f1, f2 = str(tmp_path / "facts"), str(tmp_path / "dims")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    ).write.parquet(f1)
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, name string").write.parquet(f2)
    script = f"""
    JOB "rsjoin"
      MAP {{
        j = LOAD "{f1}" USING PARQUET();
      }}
      MAP {{
        j = LOAD "{f2}" USING PARQUET();
      }}
      JOIN j ON k;
    END
    """
    env = run_script(spark, script)
    got = {(r["k"], r["name"]) for r in env["j"].collect()}
    assert got == {(1, "a"), (2, "b")}  # k=3 dropped (inner)
    with pytest.raises(ScriptError, match="two MAP blocks"):
        run_script(spark, """
        JOB "bad"
          MAP { x = LOAD "p" USING PARQUET(); }
          JOIN x ON k;
        END
        """)


def test_substitute_prefix_params():
    from cubert_spark.script.cmr import substitute

    out = substitute("$date to $date_end", {"date": "A", "date_end": "B"})
    assert out == "A to B"


def test_tee_options_reach_writer(spark, tmp_path):
    d = spark.createDataFrame([("a", 1)], "w string, n int")
    side = str(tmp_path / "tee_csv")
    script = f"""
    JOB "teeopt"
      REDUCE {{
        t = TEE d INTO "{side}" USING TEXT("header": "true");
      }}
    END
    """
    run_script(spark, script, relations={"d": d})
    back = spark.read.csv(side, header=True, sep="\t")
    assert back.columns == ["w", "n"] and back.count() == 1


def test_javascript_block_defines_vars():
    from cubert_spark.script.cmr import run_javascript_blocks

    text = """
<javascript>
var n = 2 + 3;
var label = "pri_" + n;
</javascript>
PROGRAM "p";
JOB "j"
    MAP { x = LOAD "$label/$n" USING PARQUET(); }
END
"""
    stripped, params = run_javascript_blocks(text, {})
    assert "<javascript>" not in stripped
    assert params["n"] == "5"
    assert params["label"] == "pri_5"


def test_javascript_sees_params_and_overrides():
    from cubert_spark.script.cmr import run_javascript_blocks

    text = """
<javascript>
var out = base + "-suffix";
var base = base;  // keep injected value visible as $base too
</javascript>
LOAD "$out/$base";
"""
    _, params = run_javascript_blocks(text, {"base": "v1"})
    assert params["out"] == "v1-suffix"
    assert params["base"] == "v1"


def test_javascript_date_loop_script(spark):
    # the reference's common JS use-case: generate a date window by loop
    from cubert_spark.queries.scriptq import q_script_js_dates

    rows = q_script_js_dates(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    assert {"o_orderpriority", "n", "min_price", "max_price"} == set(
        rows[0].asDict()
    )


def test_javascript_error_raises():
    from cubert_spark.script.cmr import run_javascript_blocks

    with pytest.raises(ScriptError, match="javascript"):
        run_javascript_blocks(
            "<javascript>throw new Error('boom');</javascript> $x", {}
        )


def test_job_dependency_inference():
    from cubert_spark.script import compile_script
    from cubert_spark.script.cmr import job_dependencies

    prog = compile_script("""
PROGRAM "deps";
JOB "a"
    MAP { x = LOAD "/tmp/in_a.parquet" USING PARQUET(); }
    STORE x INTO "/tmp/mid" USING PARQUET();
END
JOB "b"
    MAP { y = LOAD "/tmp/in_b.parquet" USING PARQUET(); }
    STORE y INTO "/tmp/other" USING PARQUET();
END
JOB "c"
    MAP { z = LOAD "/tmp/mid" USING PARQUET(); }
END
JOB "d"
    MAP { q = LOAD "/tmp/in_d.parquet" USING PARQUET(); w = FROM y GENERATE *; }
END
""")
    deps = job_dependencies(prog["jobs"])
    assert deps[0] == set()
    assert deps[1] == set()          # independent of a
    assert deps[2] == {0}            # reads a's stored path
    assert deps[3] == {1}            # reads b's relation y


def test_builtins_agree_with_functions_call(spark):
    """TOBYTEARRAY (UTF-8 bytes of the string form), MATCHES (a
    full-string match) and SEQNO (the dense per-task counter) give the
    same values through a .cmr GENERATE as through functions.call on
    the same rows: 'xaby' is not a full match of "ab", and it is not
    hex either."""
    from pyspark.sql import functions as F

    from cubert_spark.functions import call

    words = ["abc", "xaby", "ab", "", None, "AB", "abab", "é"]
    d = spark.range(0, 40, 1, 4).withColumn(
        "s",
        F.element_at(
            F.array(*[F.lit(w) for w in words]),
            (F.col("id") % len(words) + 1).cast("int"),
        ),
    )
    env = run_script(
        spark,
        """
    JOB "builtins"
      REDUCE {
        g = FROM d GENERATE id, TOBYTEARRAY(s) AS b, TOBYTEARRAY(id) AS bi,
            s MATCHES "ab" AS m1, s MATCHES "a.*" AS m2,
            SEQNO() AS q;
      }
    END
    """,
        relations={"d": d},
    )
    want = d.select(
        "id",
        call("TOBYTEARRAY", F.col("s")).alias("b"),
        call("TOBYTEARRAY", F.col("id")).alias("bi"),
        call("MATCHES", F.col("s"), "ab").alias("m1"),
        call("MATCHES", F.col("s"), F.lit("a.*")).alias("m2"),
        call("SEQNO").alias("q"),
    )
    got = sorted(map(tuple, env["g"].collect()))
    assert got == sorted(map(tuple, want.collect()))
    by_id = {r[0]: r for r in got}
    assert by_id[1][1] == b"xaby" and by_id[1][3] is False  # 'xaby'
    assert by_id[2][3] is True and by_id[6][3] is False  # 'ab', 'abab'
    assert by_id[7][1] == "é".encode()


def test_independent_jobs_overlap(spark, tmp_path):
    """Two IO-disjoint jobs must overlap in wall time on the thread
    pool (ExecutorService.java:41 parity), and dependent jobs must
    still see their parents' outputs."""
    import time

    from cubert_spark.script import run_script
    from cubert_spark.script import plan as plan_mod

    spans = {}
    orig = plan_mod.run_plan

    def traced(spark_, job, env, operators=None):
        t0 = time.perf_counter()
        out = orig(spark_, job, env, operators=operators)
        # pad so overlap is unambiguous even on a loaded machine
        time.sleep(0.5)
        spans[job["name"]] = (t0, time.perf_counter())
        return out

    sf = "/root/testdata/sf0.001"
    script = """
PROGRAM "par";
JOB "left"
    MAP { a = LOAD "%s/nation.parquet" USING PARQUET();
          a2 = GROUP a BY n_regionkey AGGREGATES COUNT(n_nationkey) AS n; }
END
JOB "right"
    MAP { b = LOAD "%s/region.parquet" USING PARQUET();
          b2 = GROUP b BY r_regionkey AGGREGATES COUNT(r_name) AS n; }
END
JOB "sum"
    MAP { c = LOAD "%s/region.parquet" USING PARQUET();
          j = FROM a2 GENERATE n_regionkey, n; }
END
""" % (sf, sf, sf)
    import unittest.mock as mock

    with mock.patch.object(plan_mod, "run_plan", traced), \
         mock.patch("cubert_spark.script.cmr.run_plan", traced, create=True):
        env = run_script(spark, script)
    assert env["j"].count() == 5
    (l0, l1), (r0, r1) = spans["left"], spans["right"]
    assert max(l0, r0) < min(l1, r1), f"no overlap: {spans}"
    # dependent job starts only after its parent finished
    s0, _ = spans["sum"]
    assert s0 >= l1 - 0.01


def test_store_of_earlier_jobs_relation_orders_jobs():
    """STORE <rel> where rel comes from an earlier job is a read of it
    — the scheduler must not run the two jobs concurrently."""
    from cubert_spark.script import compile_script
    from cubert_spark.script.cmr import job_dependencies

    prog = compile_script("""
PROGRAM "store dep";
JOB "make"
    MAP { x = LOAD "/tmp/in.parquet" USING PARQUET(); }
END
JOB "persist"
    MAP { y = LOAD "/tmp/other.parquet" USING PARQUET(); }
    STORE x INTO "/tmp/out_x" USING PARQUET();
END
""")
    assert job_dependencies(prog["jobs"])[1] == {0}


def test_javascript_timeout_is_script_error():
    from cubert_spark.script import cmr as cmr_mod

    orig = cmr_mod.subprocess.run

    def fake_run(*a, **k):
        raise cmr_mod.subprocess.TimeoutExpired(cmd="node", timeout=60)

    cmr_mod.subprocess.run = fake_run
    try:
        with pytest.raises(ScriptError, match="60s"):
            cmr_mod.run_javascript_blocks("<javascript>x</javascript> $x", {})
    finally:
        cmr_mod.subprocess.run = orig


def test_backtick_substitution(spark):
    """`cmd` runs via bash and its trimmed stdout splices into the
    script (CmrExecutor.java:252-279), after $var substitution."""
    script = """
    JOB "bt"
      MAP {
        n = LOAD "`echo $base/nation.parquet`" USING PARQUET();
        agg = GROUP n BY n_regionkey AGGREGATES COUNT(n_nationkey) AS c;
      }
    END
    """
    env = run_script(spark, script, params={"base": "/root/testdata/sf0.001"})
    assert sum(r["c"] for r in env["agg"].collect()) == 25


def test_backtick_failure_raises():
    from cubert_spark.script.cmr import substitute_backticks

    with pytest.raises(ScriptError, match="failed"):
        substitute_backticks('LOAD "`false`"')


def test_positional_column_references(spark):
    """$N positional refs (CubertPhysical.g4:176: '$' INT | ID),
    0-based like Pig, resolved against the INPUT relation's schema at
    run time (FunctionTree.java:176-186 getSelectorIndex) — the
    legacy-script idiom for unnamed LOADed columns."""
    d = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 20.0), ("c", 3, 30.0)],
        "name string, v int, price double",
    )
    script = """
    JOB "pos"
      REDUCE {
        out = FROM d GENERATE $0 AS nm, $1 * 100 + $1 AS v2,
              CASTTOLONG($2) AS p;
        f = FILTER d BY $1 > 1 AND $0 != "c";
      }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    rows = {r["nm"]: r for r in env["out"].collect()}
    assert rows["a"]["v2"] == 101 and rows["c"]["v2"] == 303
    assert rows["b"]["p"] == 20
    assert [r["name"] for r in env["f"].collect()] == ["b"]


def test_positional_reference_into_struct(spark):
    """$N composes with nested projection: $1.field projects out of
    the struct at position 1 (nestedProjectionExpression in the
    grammar chains columnProjectionExpressions with '.')."""
    d = spark.createDataFrame(
        [("x", (1, "u")), ("y", (2, "w"))],
        "k string, s struct<a:int,b:string>",
    )
    script = """
    JOB "pos-nested"
      REDUCE { out = FROM d GENERATE $0 AS k2, $1.a AS sa; }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    assert {(r["k2"], r["sa"]) for r in env["out"].collect()} == {("x", 1), ("y", 2)}


def test_positional_reference_out_of_range(spark):
    from cubert_spark.script.plan import PlanError

    d = spark.createDataFrame([("a", 1)], "name string, v int")
    script = 'JOB "oob" REDUCE { out = FROM d GENERATE $5 AS x; } END'
    with pytest.raises(PlanError, match=r"\$5 out of range"):
        run_script(spark, script, relations={"d": d})


def test_positional_reference_malformed():
    from cubert_spark.script.cmr import ScriptError, compile_script

    with pytest.raises(ScriptError, match="integer column index"):
        compile_script('JOB "bad" REDUCE { out = FROM d GENERATE $ + 1 AS x; } END')


def test_positional_references_in_group_by_and_aggregates(spark):
    """r14 ADVICE: $N resolves in EVERY expression context like the
    reference's FunctionTree.getSelectorIndex — GROUP BY keys and
    aggregate inputs, not just GENERATE/FILTER. The defaulted agg
    alias also resolves ($1 -> sum_v, not sum___cmr_pos_1__)."""
    d = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "name string, v int"
    )
    script = """
    JOB "posgroup"
      REDUCE { g = GROUP d BY $0 AGGREGATES SUM($1), COUNT($0) AS n; }
    END
    """
    env = run_script(spark, script, relations={"d": d})
    rows = {r["name"]: r for r in env["g"].collect()}
    assert rows["a"]["sum_v"] == 3 and rows["a"]["n"] == 2
    assert rows["b"]["sum_v"] == 3 and rows["b"]["n"] == 1


def test_positional_references_in_join_and_sort(spark):
    """$N in JOIN keys (resolved per SIDE: left $0 against the left
    schema, right $1 against the right's) and in SORT columns."""
    lft = spark.createDataFrame([(1, "x"), (2, "y")], "k long, lv string")
    rgt = spark.createDataFrame([("p", 1), ("q", 2)], "rv string, rk long")
    script = """
    JOB "posjoin"
      REDUCE {
        j = JOIN lft BY $0, rgt BY $1;
        s = SORT j ON $0;
      }
    END
    """
    env = run_script(spark, script, relations={"lft": lft, "rgt": rgt})
    got = sorted(map(tuple, env["j"].select("k", "lv", "rv").collect()))
    assert got == [(1, "x", "p"), (2, "y", "q")]
    assert env["s"].columns == env["j"].columns


def test_positional_reference_rejected_in_unsupported_context(spark):
    """A $N that lands in an operator with no input schema to resolve
    against fails at PLAN time with the $N spelling — not as a Spark
    unresolved-column __cmr_pos_N__ AnalysisException downstream."""
    from cubert_spark.script.plan import PlanError, run_plan

    d = spark.createDataFrame([(1, 2)], "a long, b long")
    plan = {
        "operators": [
            {
                "operator": "GATHER",
                "inputs": ["d"],
                "output": "g",
                "note": "__cmr_pos_1__",
            }
        ]
    }
    with pytest.raises(PlanError, match=r"\$1 is not supported"):
        run_plan(spark, plan, relations={"d": d})
