"""JSON physical-plan frontend.

Cubert's IR is a JSON tree (SURVEY.md §3: program -> jobs[] ->
{map[]{input, operators[]}, shuffle, reduce[], output}, built by
PhysicalParser.java:88 and annotated by the analyzers). This module
executes a simplified single-pipeline form of that IR on Spark: one
``inputs`` list, a flat ``operators`` chain (each op names its input
relation(s) and output relation), and an optional ``output`` sink.

Where Cubert needs explicit SHUFFLE/BLOCKGEN operators between map and
reduce phases, the Spark plan needs nothing — Catalyst inserts
exchanges — so those operators are accepted and mapped to their
declarative equivalents (SHUFFLE -> repartition+sort, BLOCKGEN ->
repartition_blocks) to preserve script meaning.

Operator names follow OperatorType.java:20-61. Example (wordcount,
mirroring release/examples/wordcount.cmr):

    {"inputs": [{"name": "words", "path": ".../docs.parquet",
                 "format": "parquet"}],
     "operators": [
       {"operator": "FLATTEN", "input": "words", "output": "w",
        "flatten": [["word_list", "BAG"]]},
       {"operator": "GROUP_BY", "input": "w", "output": "counts",
        "groupBy": ["word"],
        "aggregates": [{"type": "COUNT", "input": "word",
                        "output": "count"}]}
     ],
     "output": {"name": "counts", "path": "/tmp/out", "format": "parquet"}}
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubert_spark import catalog
from cubert_spark.operators import (
    cube,
    distinct,
    duplicate,
    filter_by,
    flatten,
    gather,
    generate,
    group_by,
    grouping_combos,
    grouping_sets,
    join,
    limit,
    rank,
    sort_within_blocks,
    top_n,
)
from cubert_spark.operators.blockgen import BlockSpec, repartition_blocks
from cubert_spark.operators.dictionary import build_dictionary, decode, encode


class PlanError(ValueError):
    pass


#: Placeholder the .cmr frontend emits for positional `$N` column
#: references (CubertPhysical.g4:176); resolved here, where the input
#: relation's schema is known (FunctionTree.java:176-186 does the same
#: integer-selector lookup against the input schema at runtime).
_POSREF_RE = re.compile(r"__cmr_pos_(\d+)__")


def _resolve_positional(expr, cols: list[str]):
    """Rewrite ``__cmr_pos_N__`` placeholders to the backticked Nth
    input column (0-based, the Pig convention). Non-string or
    placeholder-free expressions pass through untouched. (A user
    string LITERAL spelled exactly ``__cmr_pos_N__`` would also be
    rewritten — the placeholder is namespaced enough that this is a
    documented non-case rather than a guarded one.)"""
    if not isinstance(expr, str) or "__cmr_pos_" not in expr:
        return expr

    def _sub(m) -> str:
        i = int(m.group(1))
        if i >= len(cols):
            raise PlanError(
                f"positional reference ${i} out of range: input has "
                f"{len(cols)} columns ({', '.join(cols)})"
            )
        return f"`{cols[i]}`"

    return _POSREF_RE.sub(_sub, expr)


def _resolve_name(name, cols: list[str]):
    """Positional resolution for COLUMN-NAME contexts (groupBy /
    sort / join keys, agg inputs, cube dims — r14 ADVICE: the .cmr
    parser emits ``__cmr_pos_N__`` in ANY expression context, the
    reference resolves integer selectors everywhere via
    FunctionTree.getSelectorIndex, but only FILTER/GENERATE/STORE
    resolved them here; a $N in GROUP BY reached Spark as a cryptic
    unresolved-column error). Substitutes the BARE column name — no
    backticks, these APIs take names, not SQL fragments."""
    if not isinstance(name, str) or "__cmr_pos_" not in name:
        return name

    def _sub(m) -> str:
        i = int(m.group(1))
        if i >= len(cols):
            raise PlanError(
                f"positional reference ${i} out of range: input has "
                f"{len(cols)} columns ({', '.join(cols)})"
            )
        return cols[i]

    return _POSREF_RE.sub(_sub, name)


def _resolve_names(names, cols: list[str]) -> list:
    """Resolve a (possibly nested) list of name-context entries."""
    return [
        _resolve_names(n, cols)
        if isinstance(n, (list, tuple))
        else _resolve_name(n, cols)
        for n in names
    ]


def _reject_unresolved_positionals(op: dict) -> None:
    """Catch-all (r14 ADVICE, option 2 for contexts with no input
    frame to resolve against): any ``__cmr_pos_N__`` still present in
    an operator's spec after the per-kind resolution above would
    reach Spark as an unresolved column — fail at plan time with the
    $N spelling instead."""
    import json as _json

    blob = _json.dumps(op)
    m = _POSREF_RE.search(blob)
    if m:
        raise PlanError(
            f"positional reference ${m.group(1)} is not supported in a "
            f"{op.get('operator', '?')} operator context"
        )


#: Operator kinds whose name/expression fields RESOLVE $N above —
#: everything else gets the plan-time rejection guard instead.
_POSITIONAL_KINDS = frozenset({
    "FILTER", "GENERATE", "PROJECT", "GROUP_BY", "CUBE", "JOIN",
    "MERGE_JOIN", "HASHJOIN", "REDUCE_JOIN", "FLATTEN", "SORT",
    "SHUFFLE", "BLOCKGEN", "CREATE_BLOCK", "RANK", "TOP_N", "ENCODE",
    "DECODE", "TEE",
})


def _agg_tuples(specs: list[dict], cols: list[str] | None = None) -> list[tuple]:
    out = []
    for s in specs:
        name = s["type"]
        col = s.get("input", "*")
        if cols is not None:
            col = _resolve_name(col, cols)
        alias = s.get("output") or f"{name.lower()}_{col}"
        if cols is not None:
            # a defaulted cmr alias like sum___cmr_pos_1__ resolves to
            # the column's real name (sum_v), same as the reference's
            # selector-index naming
            alias = _resolve_name(alias, cols)
        out.append((name, col, alias))
    return out


def run_plan(
    spark: SparkSession,
    plan: dict,
    relations: dict[str, DataFrame] | None = None,
    operators: dict | None = None,
) -> dict[str, DataFrame]:
    """Execute a JSON plan; returns the relation environment (every
    named intermediate), after writing ``output`` if present.

    ``operators`` registers user operators for URI_OPERATOR nodes
    (Cubert USER_DEFINED_TUPLE/BLOCK_OPERATOR, OperatorType.java:59-60):
    name -> fn(dfs: list[DataFrame], params: dict) -> DataFrame,
    resolvable by full dotted uri or bare class name."""
    env: dict[str, DataFrame] = dict(relations or {})
    operators = operators or {}

    for inp in plan.get("inputs", []):
        paths = inp["path"] if isinstance(inp["path"], list) else [inp["path"]]
        if not any(isinstance(p, dict) for p in paths):
            # plain paths: one multi-path scan (single scan node), not
            # a union of scans
            env[inp["name"]] = catalog.load(
                spark,
                inp["path"],
                fmt=inp.get("format", "parquet"),
                schema=inp.get("schema"),
                **inp.get("options", {}),
            )
            continue
        parts = []
        for p in paths:
            if isinstance(p, dict):  # ("root", startYmd, endYmd) form
                def _iso(ymd: str) -> str:
                    return f"{ymd[0:4]}-{ymd[4:6]}-{ymd[6:8]}"

                parts.append(
                    catalog.load_date_range(
                        spark,
                        p["root"].rstrip("/") + "/{ymd}",
                        _iso(p["start"]),
                        _iso(p["end"]),
                        fmt=inp.get("format", "parquet"),
                        schema=inp.get("schema"),
                        **inp.get("options", {}),
                    )
                )
            else:
                parts.append(
                    catalog.load(
                        spark,
                        p,
                        fmt=inp.get("format", "parquet"),
                        schema=inp.get("schema"),
                        **inp.get("options", {}),
                    )
                )
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra)
        env[inp["name"]] = df

    for op in plan.get("operators", []):
        kind = op["operator"].upper()
        out_name = op.get("output") or op.get("input")
        src = env[op["input"]] if "input" in op else None

        if kind == "FILTER":
            res = filter_by(src, _resolve_positional(op["filterExpr"], src.columns))
        elif kind in ("GENERATE", "PROJECT"):
            res = generate(
                src,
                *[_resolve_positional(e, src.columns) for e in op["outputExpressions"]],
            )
        elif kind == "GROUP_BY":
            res = group_by(
                src,
                _resolve_names(op.get("groupBy", []), src.columns),
                *_agg_tuples(op["aggregates"], src.columns),
            )
        elif kind == "CUBE":
            dims = _resolve_names(op["dimensions"], src.columns)
            aggs = _agg_tuples(op["aggregates"], src.columns)
            if "groupingSets" in op:
                res = grouping_sets(
                    src, _resolve_names(op["groupingSets"], src.columns), *aggs
                )
            elif "groupingCombos" in op:
                res = grouping_combos(src, dims, int(op["groupingCombos"]), *aggs)
            elif "rollups" in op:
                # ROLLUPS (a,b),(c): union of each cuboid's prefix chain
                sets: list[list[str]] = []
                for cuboid in _resolve_names(op["rollups"], src.columns):
                    for k in range(len(cuboid) + 1):
                        pref = list(cuboid[:k])
                        if pref not in sets:
                            sets.append(pref)
                res = grouping_sets(src, sets, *aggs)
            else:
                res = cube(src, dims, *aggs)
        elif kind in ("JOIN", "MERGE_JOIN", "HASHJOIN", "REDUCE_JOIN"):
            right = env[op["rightBlock"]]
            left = env[op.get("leftBlock", op.get("input"))]
            jkeys = _resolve_names(op["joinKeys"], left.columns)
            rkeys = op.get("rightKeys")
            if rkeys:
                rkeys = _resolve_names(rkeys, right.columns)
            if rkeys and list(rkeys) != list(jkeys):
                # JOIN x BY a, y BY b: align right key names to left's
                for lk, rk in zip(jkeys, rkeys):
                    if lk != rk and lk in right.columns:
                        raise PlanError(
                            f"JOIN key rename {rk!r}->{lk!r} collides with an "
                            f"existing right-side column {lk!r}; rename it first"
                        )
                    right = right.withColumnRenamed(rk, lk)
            res = join(left, right, jkeys, op.get("joinType", "INNER"))
        elif kind == "FLATTEN":
            specs = [tuple(s) for s in _resolve_names(op["flatten"], src.columns)]
            res = flatten(src, *specs, aliases=op.get("aliases"))
        elif kind == "DISTINCT":
            res = distinct(src)
        elif kind == "LIMIT":
            res = limit(src, int(op["maxTuples"]))
        elif kind == "SORT":
            res = sort_within_blocks(src, *_resolve_names(op["sortBy"], src.columns))
        elif kind == "SHUFFLE":
            spec = BlockSpec(
                partition_keys=tuple(_resolve_names(op["partitionKeys"], src.columns)),
                sort_keys=tuple(_resolve_names(op.get("pivotKeys", ()), src.columns)),
                num_buckets=int(op.get("numReducers", 32)),
            )
            res = repartition_blocks(src, spec)
            if op.get("aggregates"):
                # SHUFFLE ... AGGREGATES: combiner+reducer GROUP BY
                res = group_by(
                    res,
                    _resolve_names(op["partitionKeys"], src.columns),
                    *_agg_tuples(op["aggregates"], src.columns),
                )
        elif kind in ("BLOCKGEN", "CREATE_BLOCK"):
            spec = BlockSpec(
                partition_keys=tuple(_resolve_names(op["partitionKeys"], src.columns)),
                sort_keys=tuple(_resolve_names(op.get("sortKeys", ()), src.columns)),
                num_buckets=int(op.get("numBlocks", 32)),
            )
            res = repartition_blocks(src, spec)
        elif kind == "DUPLICATE":
            res = duplicate(src, int(op["times"]), op.get("counter"))
        elif kind == "GATHER":
            res = gather(*[env[n] for n in op["inputs"]])
        elif kind == "RANK":
            res = rank(
                src,
                op.get("output_column", "rank"),
                _resolve_names(op.get("groupBy", []), src.columns),
                _resolve_names(op.get("orderBy", []), src.columns),
            )
        elif kind == "TOP_N":
            res = top_n(
                src,
                int(op["n"]),
                _resolve_names(op.get("groupBy", []), src.columns),
                _resolve_names(op.get("orderBy", []), src.columns),
            )
        elif kind in ("ENCODE", "DECODE"):
            op = dict(op, columns=_resolve_names(op["columns"], src.columns)) \
                if not isinstance(op.get("columns"), dict) else op
            if "dictionary" in op:
                d = env[op["dictionary"]]
            elif "dictionaryPath" in op:
                d = catalog.load(spark, op["dictionaryPath"])
            else:
                d = build_dictionary(src, op["columns"][0])
            kwargs = {}
            if kind == "ENCODE":
                if "nullAs" in op:
                    kwargs["null_as"] = int(op["nullAs"])
                if "unknownAs" in op:
                    kwargs["unknown_as"] = int(op["unknownAs"])
                fn = encode
            else:
                fn = decode
            if "colname" in d.columns:  # per-column inline dictionary
                res = src
                for c in op["columns"]:
                    dc = d.filter(F.col("colname") == c).select("value", "code")
                    res = fn(res, dc, [c], **kwargs)
            else:
                res = fn(src, d, op["columns"], **kwargs)
        elif kind == "INLINE_DICTIONARY":
            rows = [
                (c, v, i + 1)
                for c, vals in op["columns"].items()
                for i, v in enumerate(vals)
            ]
            res = spark.createDataFrame(rows, "colname string, value string, code int")
        elif kind in ("NO_OP", "NOOP"):
            if op.get("partitionKeys"):
                from cubert_spark.plans.assertions import assert_partitioned_on

                assert_partitioned_on(src, list(op["partitionKeys"]))
            res = src
        elif kind == "TEE":
            from cubert_spark.operators import tee

            res = tee(
                src,
                op["path"],
                fmt=op.get("format", "parquet"),
                predicate=_resolve_positional(op.get("filterExpr"), src.columns),
                project=[
                    _resolve_positional(e, src.columns) for e in op["generate"]
                ]
                if op.get("generate")
                else op.get("generate"),
                split=bool(op.get("split", False)),
                **op.get("options", {}),
            )
        elif kind == "LOAD_CACHED":
            # LOAD-CACHED = DistributedCache block -> broadcast hint
            res = F.broadcast(
                catalog.load(
                    spark,
                    op["path"],
                    fmt=op.get("format", "parquet"),
                    schema=op.get("schema"),
                    **op.get("options", {}),
                )
            )
        elif kind == "COMBINE":
            from cubert_spark.operators import combine

            res = combine(*[env[n] for n in op["inputs"]], sorted_on=op["sortedOn"])
        elif kind == "CREATE_DICTIONARY":
            if len(op["columns"]) != 1:
                raise PlanError("CREATE_DICTIONARY supports one column per relation")
            res = build_dictionary(src, op["columns"][0])
        elif kind == "VALIDATE":
            from cubert_spark.operators.pivot import validate

            res = validate(
                src,
                partitioned_on=op.get("partitionKeys", ()),
                sorted_on=op.get("sortKeys", ()),
            )
        elif kind == "URI_OPERATOR":
            uri = op["uri"]
            fn = operators.get(uri) or operators.get(uri.rsplit(".", 1)[-1])
            if fn is None:
                raise PlanError(
                    f"user operator {uri!r} is not registered "
                    "(pass operators={name: fn} to run_plan/run_script)"
                )
            res = fn([env[n] for n in op["inputs"]], op.get("params", {}))
        else:
            raise PlanError(f"unsupported operator {kind!r}")
        # kinds with no positional-bearing fields (DISTINCT, LIMIT,
        # GATHER, DUPLICATE, dictionary/validate/user ops): a $N that
        # slipped into their spec resolves nowhere — fail at plan
        # time with the $N spelling, not as a Spark unresolved-column
        # error downstream (r14 ADVICE, option 2)
        if kind not in _POSITIONAL_KINDS:
            _reject_unresolved_positionals(op)
        env[out_name] = res

    out = plan.get("output")
    if out:
        catalog.store(
            env[out["name"]],
            out["path"],
            fmt=out.get("format", "parquet"),
            **out.get("options", {}),
        )
    return env


def run_plan_file(
    spark: SparkSession, path: str, relations: dict[str, DataFrame] | None = None
) -> dict[str, DataFrame]:
    with open(path) as f:
        return run_plan(spark, json.load(f), relations)
