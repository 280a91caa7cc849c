"""Cubert-script (.cmr) frontend: tokenizer + recursive-descent parser
lowering script text to the JSON physical-plan IR executed by
``script.plan.run_plan``.

Grammar parity: src/main/antlr4/CubertPhysical.g4 (reference). The
program/job/MAP/SHUFFLE/REDUCE/STORE shape (g4:36-55), the operator
statements (g4:81-133) and the expression language (g4:149-180) are
supported; physical-only knobs (MAPPERS/REDUCERS counts, HTSIZE, INNER
cube dims, BLOCKGEN cost values) are accepted and recorded but the
physical strategy is Catalyst's — that is the point of the engine.

Expression translation (g4:149-180 -> Spark SQL): ``==`` -> ``=``,
``MATCHES`` -> ``RLIKE``, ``a#"k"`` map access -> ``a['k']``,
``CASE(c1,v1,...)`` -> ``CASE WHEN c1 THEN v1 ... END``, double-quoted
strings -> SQL single-quoted, CASTTO*/NVL/SIZEOF/etc (FunctionType.java)
-> Spark SQL builtins. Everything lands in ``selectExpr``/``filter`` —
JVM-side, codegen'd, no Python in the row path.

``$var`` substitution and ``<javascript>`` macro blocks mirror the
reference's preprocessor (CmrExecutor.java:117-240): blocks are
stripped from the script, executed (on the system ``node``) with every
param pre-defined as a string variable, and any ``$name`` the script
references that the JavaScript leaves defined becomes a substitution
param (JS value wins over the passed-in param, as in the reference).
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess

from pyspark.sql import DataFrame, SparkSession

from cubert_spark.functions.registry import SEQNO_SQL, full_match_regex

# ---------------------------------------------------------------- tokens

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|//[^\n]*|/\*.*?\*/)
  | (?P<string>"(?:\\.|[^"\\])*")
  | (?P<num>\d+\.\d+|\d+[Ll]?)
  | (?P<id>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>==|!=|<=|>=|[-+*/%<>=(){},;:#.$\[\]])
    """,
    re.VERBOSE | re.DOTALL,
)

#: Cubert builtin -> Spark SQL function name (FunctionType.java:20-67).
_FN_MAP = {
    "CASTTOINT": "int",
    "CASTTOLONG": "bigint",
    "CASTTOFLOAT": "float",
    "CASTTODOUBLE": "double",
    "CASTTOSTRING": "string",
    "NVL": "nvl",
    "CONCAT": "concat",
    "SIZEOF": "size",
    "UNIQUEID": "monotonically_increasing_id",
}

#: builtins that rewrite to whole expressions, not names
#: (_Parser._rewrite_call)
_REWRITTEN_CALLS = ("SEQNO", "TOBYTEARRAY")


class ScriptError(ValueError):
    pass


#: operator statement keywords handled natively; anything else on the
#: RHS of `lhs = ...` is parsed as a uriOperator (user operator)
_KNOWN_OPS = {
    "LOAD", "LOAD-CACHED", "FROM", "FILTER", "GROUP", "JOIN", "HASH-JOIN",
    "CUBE", "FLATTEN", "DISTINCT", "LIMIT", "SORT", "DUPLICATE", "RANK",
    "TOP", "GATHER", "COMBINE", "TEE", "NO_OP", "ENCODE", "DECODE",
    "LOADBLOCK", "BLOCK", "PIVOT", "VALIDATE",
}


def tokenize(text: str) -> list[str]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ScriptError(f"bad character at {text[pos:pos+20]!r}")
        pos = m.end()
        if m.lastgroup != "ws":
            out.append(m.group())
    return out


_JS_BLOCK_RE = re.compile(r"<javascript>(.*?)</javascript>", re.DOTALL)
_VAR_REF_RE = re.compile(r"\$\{?([A-Za-z_][A-Za-z0-9_]*)\}?")
_JS_MARKER = "__CMR_JS_RESULT__"


def run_javascript_blocks(
    text: str, params: dict[str, str] | None
) -> tuple[str, dict[str, str]]:
    """Execute ``<javascript>`` macro blocks (CmrExecutor.java:137-192).

    All blocks are concatenated and run once; params are injected as
    string vars (key stripped to alphanumerics, as the reference does);
    each ``$name`` referenced by the remaining script text that the JS
    leaves defined is exported as a substitution value via
    ``String(...)``. Returns ``(script_without_blocks, merged_params)``.
    """
    blocks = _JS_BLOCK_RE.findall(text)
    if not blocks:
        return text, dict(params or {})
    node = shutil.which("node")
    if node is None:
        raise ScriptError(
            "<javascript> macro blocks require a JavaScript engine; "
            "`node` was not found on PATH"
        )
    stripped = _JS_BLOCK_RE.sub("", text)
    names = sorted(set(_VAR_REF_RE.findall(stripped)))
    defs = "".join(
        "var %s = %s;\n" % (re.sub(r"[^A-Za-z0-9]", "", k), json.dumps(str(v)))
        for k, v in (params or {}).items()
        if re.sub(r"[^A-Za-z0-9]", "", k)
    )
    harvest = (
        ";(function () {\n"
        "  var __o = {};\n"
        "  %s.forEach(function (v) {\n"
        "    try {\n"
        "      var x = eval(v);\n"
        "      if (typeof x !== 'undefined') __o[v] = String(x);\n"
        "    } catch (e) {}\n"
        "  });\n"
        "  console.log('\\n%s' + JSON.stringify(__o));\n"
        "})();\n" % (json.dumps(names), _JS_MARKER)
    )
    prog = defs + "\n".join(blocks) + "\n" + harvest
    try:
        proc = subprocess.run(
            [node, "-e", prog], capture_output=True, text=True, timeout=60
        )
    except subprocess.TimeoutExpired as e:
        raise ScriptError(
            "<javascript> block did not finish within 60s"
        ) from e
    if proc.returncode != 0:
        raise ScriptError(
            f"<javascript> block failed: {proc.stderr.strip()[:500]}"
        )
    payload = None
    for line in proc.stdout.splitlines():
        if line.startswith(_JS_MARKER):
            payload = line[len(_JS_MARKER):]
    if payload is None:
        raise ScriptError("<javascript> block produced no result marker")
    merged = dict(params or {})
    merged.update(json.loads(payload))
    return stripped, merged


_BACKTICK_RE = re.compile(r"`([^`\n]+)`")


def substitute_backticks(text: str) -> str:
    """Backtick command substitution (CmrExecutor.java:252-279): each
    `` `cmd` `` runs via ``bash -c`` and its trimmed stdout replaces
    the span. Runs AFTER $var substitution, as the reference does, so
    commands may consume substituted values. Scripts are trusted input.

    Two deliberate deviations from the reference: commands may not
    span lines (so one stray backtick cannot pair with an unrelated
    later one and execute script text), and there is no ``exec``
    prefix (which silently truncated ``a && b`` at the first command
    and broke shell builtins)."""

    def _run(m: re.Match) -> str:
        try:
            proc = subprocess.run(
                ["bash", "-c", m.group(1)],
                capture_output=True, text=True, timeout=60,
            )
        except subprocess.TimeoutExpired as e:
            raise ScriptError(
                f"backtick command {m.group(1)!r} did not finish within 60s"
            ) from e
        if proc.returncode != 0:
            raise ScriptError(
                f"backtick command {m.group(1)!r} failed: "
                f"{proc.stderr.strip()[:300]}"
            )
        return proc.stdout.strip()

    return _BACKTICK_RE.sub(_run, text)


def substitute(text: str, params: dict[str, str] | None) -> str:
    """$name / ${name} substitution (CmrExecutor preprocessor).
    Longest names substitute first so a param that is a prefix of
    another ($date vs $date_end) cannot corrupt the longer reference."""
    for k in sorted(params or {}, key=len, reverse=True):
        v = str((params or {})[k])
        text = text.replace("${%s}" % k, v).replace("$" + k, v)
    return text


def _unquote(tok: str) -> str:
    return tok[1:-1].replace('\\"', '"').replace("\\\\", "\\")


def _sql_str(tok: str) -> str:
    return "'" + _unquote(tok).replace("'", "''") + "'"


# ---------------------------------------------------------------- parser


class _Parser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    # -- token helpers ---------------------------------------------------
    def peek(self, ahead: int = 0) -> str | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def peek_kw(self, ahead: int = 0) -> str:
        t = self.peek(ahead)
        return t.upper() if t else ""

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise ScriptError("unexpected end of script")
        t = self.toks[self.i]
        self.i += 1
        return t

    def int_tok(self) -> int:
        t = self.next()
        try:
            return int(t.rstrip("Ll"))
        except ValueError as e:
            raise ScriptError(f"expected integer, got {t!r}") from e

    def expect(self, *want: str) -> str:
        t = self.next()
        if t.upper() not in tuple(w.upper() for w in want):
            raise ScriptError(f"expected {want}, got {t!r} near token {self.i}")
        return t

    def accept(self, *want: str) -> bool:
        if self.peek_kw() in tuple(w.upper() for w in want):
            self.i += 1
            return True
        return False

    def kw(self) -> str:
        """Next token as an upper-cased keyword; joins LOAD-CACHED /
        HASH-JOIN style hyphenated keywords."""
        t = self.next().upper()
        if self.peek() == "-" and self.peek_kw(1) in ("CACHED", "JOIN"):
            self.next()
            t = t + "-" + self.next().upper()
        return t

    # -- small rules -----------------------------------------------------
    def path(self) -> str:
        return _unquote(self.expect_string())

    def expect_string(self) -> str:
        t = self.next()
        if not t.startswith('"'):
            raise ScriptError(f"expected string, got {t!r}")
        return t

    def colref(self) -> str:
        """A column name, or a positional ``$N`` reference emitted as
        the ``__cmr_pos_N__`` placeholder (r14 ADVICE: the reference
        resolves integer selectors in EVERY expression context via
        FunctionTree.getSelectorIndex, but only expression()-parsed
        contexts emitted the placeholder here — $N in GROUP BY / JOIN
        keys / SORT / CUBE dims either mis-parsed or reached Spark as
        an unresolved column; plan.py resolves the placeholder against
        the input schema in all those contexts now)."""
        t = self.next()
        if t != "$":
            return t
        nxt = self.peek()
        if not (nxt and re.fullmatch(r"\d+", nxt)):
            raise ScriptError(
                f"positional reference: $ must be followed by an "
                f"integer column index, got {nxt!r}"
            )
        self.next()
        return f"__cmr_pos_{nxt}__"

    def columns(self) -> list[str]:
        cols = [self.colref()]
        while self.accept(","):
            cols.append(self.colref())
        return cols

    def params(self) -> dict[str, str]:
        """("k": "v", ...) option map (may be absent)."""
        opts: dict[str, str] = {}
        if not self.accept("("):
            return opts
        while not self.accept(")"):
            k = _unquote(self.expect_string())
            self.expect(":")
            opts[k] = _unquote(self.expect_string())
            self.accept(",")
        return opts

    def agg_list(self, bracketed_ok: bool = True) -> list[dict]:
        """aggregate: FN(cols?) [AS alias] (g4:182-186)."""
        if bracketed_ok and self.accept("["):
            aggs = self.agg_list(bracketed_ok=False)
            self.expect("]")
            return aggs
        aggs = []
        while True:
            fn = self.next().upper()
            self.expect("(")
            cols = []
            while self.peek() != ")":
                cols.append(self.colref())
                self.accept(",")
            self.expect(")")
            alias = self.next() if self.accept("AS") else None
            aggs.append(
                {
                    "type": fn,
                    "input": cols[0] if cols else "*",
                    "output": alias or (fn.lower() + ("_" + cols[0] if cols else "")),
                }
            )
            if not self.accept(","):
                return aggs

    def cuboids(self) -> list[list[str]]:
        sets = []
        while True:
            self.expect("(")
            sets.append([] if self.peek() == ")" else self.columns())
            self.expect(")")
            if not self.accept(","):
                return sets

    # -- expressions -----------------------------------------------------
    def expression(self, stop: tuple[str, ...]) -> str:
        """Translate an expression to Spark SQL text, consuming tokens
        until a top-level ``stop`` keyword/symbol."""
        parts: list[str] = []
        depth = 0
        while True:
            t = self.peek()
            if t is None:
                break
            up = t.upper()
            if depth == 0 and (up in stop or (up == "AS" and "AS" in stop)):
                break
            self.next()
            if t == "(":
                depth += 1
                parts.append("(")
            elif t == ")":
                if depth == 0:
                    self.i -= 1
                    break
                depth -= 1
                parts.append(")")
            elif t == "==":
                parts.append("=")
            elif up == "MATCHES":
                # Pig/Cubert MATCHES is FULL-string match (CompiledRegex
                # .matches()); Spark RLIKE is find() — anchor literals
                nxt = self.peek()
                if nxt and nxt.startswith('"'):
                    self.next()
                    pat = full_match_regex(_unquote(nxt)).replace("'", "''")
                    parts.append(f"RLIKE '{pat}'")
                else:
                    parts.append("RLIKE")
            elif t == "#":
                key = self.expect_string()
                parts.append("[" + _sql_str(key) + "]")
            elif t.startswith('"'):
                parts.append(_sql_str(t))
            elif up == "CASE" and self.peek() == "(":
                parts.append(self._case_expr())
            elif up in _REWRITTEN_CALLS and self.peek() == "(":
                parts.append(self._rewrite_call(up))
            elif up in _FN_MAP and self.peek() == "(":
                parts.append(_FN_MAP[up])
            elif t == "$":
                # positional column reference $N (0-based, the Pig
                # convention; CubertPhysical.g4:176
                # `columnProjectionExpression: '$' INT | ID`, resolved
                # against the INPUT schema at runtime —
                # FunctionTree.java:176-186 getSelectorIndex). The
                # schema isn't known at parse time (inputs may be
                # bare parquet paths), so emit a placeholder the plan
                # executor rewrites to the Nth input column.
                nxt = self.peek()
                if not (nxt and re.fullmatch(r"\d+", nxt)):
                    raise ScriptError(
                        f"positional reference: $ must be followed by an "
                        f"integer column index, got {nxt!r}"
                    )
                self.next()
                parts.append(f"__cmr_pos_{nxt}__")
            elif t == ".":
                # nested projection / uri: strip function package prefix
                nxt = self.peek()
                if parts and nxt and re.match(r"[A-Za-z_]", nxt or ""):
                    # lookahead: com.foo.Bar( -> keep only last segment
                    j = self.i
                    while (
                        j + 1 < len(self.toks)
                        and self.toks[j + 1] == "."
                        and re.match(r"[A-Za-z_]", self.toks[j + 2])
                    ):
                        j += 2
                    if j + 1 < len(self.toks) and self.toks[j + 1] == "(":
                        name = self.toks[j]
                        self.i = j + 1
                        parts.pop()  # drop package head; keep class name
                        if name.upper() in _REWRITTEN_CALLS:
                            # FQCN spelling (…builtin.SeqNo()) gets the
                            # same rewrite as the bare name
                            parts.append(self._rewrite_call(name.upper()))
                            continue
                        parts.append(_FN_MAP.get(name.upper(), name))
                        continue
                parts.append(".")
            else:
                parts.append(t)
        # glue dotted projections (a . b -> a.b) at the PARTS level: a
        # textual \s+\.\s+ regex would also eat whitespace inside
        # string literals ('a . b', '\r.\r' — hypothesis-found bug)
        merged: list[str] = []
        i = 0
        while i < len(parts):
            if parts[i] == "." and merged and i + 1 < len(parts):
                merged[-1] = merged[-1] + "." + parts[i + 1]
                i += 2
            else:
                merged.append(parts[i])
                i += 1
        return " ".join(merged)

    def _rewrite_call(self, name: str) -> str:
        """``SEQNO()`` / ``TOBYTEARRAY(x)`` as the Spark SQL of their
        ``functions.registry`` spellings: SEQNO is the dense 1-based
        per-task counter (``SEQNO_SQL``), TOBYTEARRAY the UTF-8 bytes
        of ``x`` as a string (ToByteArray.java:32)."""
        self.expect("(")
        if name == "SEQNO":
            if not self.accept(")"):
                raise ScriptError("SEQNO takes no arguments")
            return SEQNO_SQL
        arg = self.expression(stop=(",",))
        if not arg or not self.accept(")"):
            raise ScriptError("TOBYTEARRAY takes one argument")
        return f"encode(string({arg}), 'UTF-8')"

    def _case_expr(self) -> str:
        """CASE(c1, v1, c2, v2, ...) -> CASE WHEN c1 THEN v1 ... END
        (Case.java:30; pairs per caseFunctionCallExpression g4:172)."""
        self.expect("(")
        args = []
        while True:
            args.append(self.expression(stop=(",",)))
            if not self.accept(","):
                break
        self.expect(")")
        if len(args) % 2:
            raise ScriptError("CASE needs (condition, value) pairs")
        whens = " ".join(
            f"WHEN {c} THEN {v}" for c, v in zip(args[::2], args[1::2])
        )
        return f"CASE {whens} END"

    def generate_list(self) -> list[str]:
        exprs = []
        while True:
            e = self.expression(stop=(",", ";", "IF", "AS"))
            if self.accept("AS"):
                e = f"{e} AS {self.next()}"
            exprs.append(e)
            if not self.accept(","):
                return exprs

    # -- program ---------------------------------------------------------
    def program(self) -> dict:
        prog: dict = {"name": None, "sets": {}, "jobs": []}
        if self.accept("PROGRAM"):
            prog["name"] = _unquote(self.expect_string())
            self.expect(";")
        while self.peek() is not None:
            up = self.peek_kw()
            if up == "SET":
                self.next()
                key = self.next()
                prog["sets"][key] = self.next().strip('"')
                self.expect(";")
            elif up in ("REGISTER", "FUNCTION"):
                # jar registration / function-by-uri: resolved from our
                # registry by bare name, nothing to load
                while self.next() != ";":
                    pass
            elif up == "JOB":
                prog["jobs"].append(self.job())
            elif up == "CREATE" and self.peek_kw(1) == "DICTIONARY":
                prog["jobs"].append(self.create_dictionary())
            else:
                raise ScriptError(f"unexpected token {self.peek()!r} at top level")
        return prog

    def create_dictionary(self) -> dict:
        """CREATE DICTIONARY name COLUMN c VALUES "a", "b" ...;
        (grammar:30-32) — an inline dictionary relation: codes are
        1-based in listed order (GenerateDictionary.java:50)."""
        self.next(), self.next()
        name = self.next()
        cols: dict[str, list[str]] = {}
        while self.accept("COLUMN"):
            col = self.next()
            self.expect("VALUES")
            vals = [_unquote(self.expect_string())]
            while self.accept(","):
                vals.append(_unquote(self.expect_string()))
            cols[col] = vals
        self.expect(";")
        return {
            "name": f"create dictionary {name}",
            "inputs": [],
            "operators": [
                {"operator": "INLINE_DICTIONARY", "output": name, "columns": cols}
            ],
            "output": None,
            "onCompletion": [],
        }

    def job(self) -> dict:
        self.expect("JOB")
        plan: dict = {
            "name": _unquote(self.expect_string()),
            "inputs": [],
            "operators": [],
            "output": None,
            "onCompletion": [],
        }
        while self.accept("SET"):
            self.next(), self.next()
            self.expect(";")
        for knob in ("MAPPERS", "REDUCERS"):
            if self.accept(knob):
                plan[knob.lower()] = self.int_tok()
                self.expect(";")
        defined: set[str] = set()
        while self.accept("MAP"):
            self.map_block(plan, defined)
        self.shuffle_section(plan)
        if self.accept("REDUCE"):
            self.expect("{")
            while not self.accept("}"):
                self.statement(plan)
        if self.peek_kw() == "STORE":  # mandatory in the grammar; optional
            self.store(plan)  # here so library callers can read relations
        if self.accept("ONCOMPLETION"):
            self.on_completion(plan)
        self.expect("END")
        return plan

    def map_block(self, plan: dict, defined: set[str]) -> None:
        """MAP { input; statements } — MultiMapperSplit semantics: a
        later MAP block's relations are mapper-LOCAL while its
        statements run (they see only this block's rows), and any
        relation name also defined by an earlier block unions into it
        AFTER the block — so per-mapper transforms never leak across
        mappers."""
        self.expect("{")
        start = len(plan["operators"])
        name = self.next()
        self.expect("=")
        kw = self.kw()
        if kw != "LOAD":
            raise ScriptError("MAP block must start with LOAD")
        inp = self.load_stmt(name)
        mapper_idx = len(plan["inputs"])
        plan["inputs"].append(inp)
        while not self.accept("}"):
            self.statement(plan)
        block_ops = plan["operators"][start:]
        block_defs = [name] + [
            op["output"] for op in block_ops if op.get("output")
        ]
        renames = {
            n: f"__{n}_m{mapper_idx}"
            for n in dict.fromkeys(block_defs)
            if n in defined
        }
        if renames:
            if name in renames:
                inp["name"] = renames[name]
            for op in block_ops:
                for key in ("input", "output", "leftBlock", "rightBlock", "dictionary"):
                    if op.get(key) in renames:
                        op[key] = renames[op[key]]
                if "inputs" in op:
                    op["inputs"] = [renames.get(x, x) for x in op["inputs"]]
            for orig, tmp in renames.items():
                plan["operators"].append(
                    {"operator": "GATHER", "inputs": [orig, tmp], "output": orig}
                )
        defined.update(block_defs)

    def _input_path(self):
        """inputPath (g4:204): "path" or ("path", startYmd, endYmd) —
        the daily date-range form (int yyyyMMdd bounds)."""
        if self.accept("("):
            root = self.path()
            self.expect(",")
            start = self.next()
            self.expect(",")
            end = self.next()
            self.expect(")")
            return {"root": root, "start": start, "end": end}
        return self.path()

    def load_stmt(self, name: str) -> dict:
        paths = [self._input_path()]
        while self.accept(","):
            paths.append(self._input_path())
        self.expect("USING")
        fmt = self.next()
        opts = self.params()
        self.expect(";")
        inp: dict = {
            "name": name,
            "path": paths[0] if len(paths) == 1 else paths,
            "format": fmt,
        }
        if "schema" in opts:
            inp["schema"] = opts.pop("schema")
        if opts:
            inp["options"] = opts
        return inp

    def shuffle_section(self, plan: dict) -> None:
        """macroShuffleCommand (g4:45-65)."""
        up = self.peek_kw()
        ops = plan["operators"]
        if up == "SHUFFLE":
            self.next()
            rel = self.next()
            self.expect("PARTITIONED")
            self.expect("ON")
            op = {
                "operator": "SHUFFLE",
                "input": rel,
                "output": rel,
                "partitionKeys": self.columns(),
                "numReducers": plan.get("reducers", 32),
            }
            if self.accept("SORTED"):
                self.expect("ON")
                op["pivotKeys"] = self.columns()
            if self.accept("AGGREGATES"):
                op["aggregates"] = self.agg_list()
            self.expect(";")
            ops.append(op)
        elif up == "BLOCKGEN":
            self.next()
            distinct = self.accept("DISTINCT")
            rel = self.next()
            self.expect("BY")
            btype = self.next().upper()
            value = None
            if btype in ("ROW", "SIZE") or self.peek_kw() not in ("PARTITIONED",):
                if self.peek_kw() != "PARTITIONED":
                    value = self.next()
            self.expect("PARTITIONED")
            self.expect("ON")
            op = {
                "operator": "BLOCKGEN",
                "input": rel,
                "output": rel,
                "blockgenType": btype,
                "blockgenValue": value,
                "partitionKeys": self.columns(),
                "numBlocks": plan.get("reducers", 32),
            }
            if self.accept("SORTED"):
                self.expect("ON")
                op["sortKeys"] = self.columns()
            self.expect(";")
            ops.append(op)
            if distinct:
                ops.append({"operator": "DISTINCT", "input": rel, "output": rel})
        elif up == "DISTINCT":
            self.next()
            rel = self.next()
            self.expect(";")
            ops.append({"operator": "DISTINCT", "input": rel, "output": rel})
        elif up == "DICTIONARY":
            self.next()
            rel = self.next()
            self.expect("ON")
            cols = self.columns()
            self.expect(";")
            ops.append(
                {
                    "operator": "CREATE_DICTIONARY",
                    "input": rel,
                    "output": rel,
                    "columns": cols,
                }
            )
        elif up == "JOIN":
            self.next()
            jt = self.join_type()
            rel = self.next()
            self.expect("ON")
            cols = self.columns()
            if self.accept("PARTITIONED"):
                self.expect("ON")
                self.columns()
            self.expect(";")
            # ShuffleRewriter.rewriteJoin (ShuffleRewriter.java:549-628):
            # exactly two mappers define the SAME relation; tag 1 = the
            # first (fact), tag 0 = the second (dimension); the reducer
            # joins them. map_block unioned the two sides — undo that
            # union and join the mapper-local relations instead.
            gidx = next(
                (
                    i
                    for i in range(len(ops) - 1, -1, -1)
                    if ops[i].get("operator") == "GATHER"
                    and ops[i].get("output") == rel
                    and len(ops[i].get("inputs", [])) == 2
                    and ops[i]["inputs"][1].startswith("__")
                ),
                None,
            )
            if gidx is None:
                raise ScriptError(
                    f"JOIN shuffle requires exactly two MAP blocks defining {rel!r}"
                )
            left_rel, right_rel = ops[gidx]["inputs"]
            del ops[gidx]
            ops.append(
                {
                    "operator": "JOIN",
                    "input": left_rel,
                    "rightBlock": right_rel,
                    "joinKeys": cols,
                    "joinType": jt,
                    "output": rel,
                }
            )
        elif up == "CUBE":
            self.cube_stmt(None, plan)

    def join_type(self) -> str:
        if self.peek_kw() in ("LEFT", "RIGHT", "FULL"):
            side = self.next().upper()
            self.expect("OUTER")
            return f"{side} OUTER"
        return "INNER"

    def cube_stmt(self, lhs: str | None, plan: dict) -> None:
        self.expect("CUBE")
        rel = self.next()
        self.expect("BY")
        dims = self.columns()
        if self.accept("INNER"):
            self.columns()  # physical hint: Catalyst's distinct-agg rewrite
        self.expect("AGGREGATES")
        aggs = self.agg_list()
        op: dict = {
            "operator": "CUBE",
            "input": rel,
            "output": lhs or rel,
            "dimensions": dims,
            "aggregates": aggs,
        }
        if self.accept("GROUPING"):
            which = self.next().upper()
            if which == "SETS":
                op["groupingSets"] = self.cuboids()
            elif which == "COMBOS":
                op["groupingCombos"] = self.int_tok()
            else:
                raise ScriptError(f"GROUPING {which}?")
        elif self.accept("ROLLUPS"):
            op["rollups"] = self.cuboids()
        if self.accept("HTSIZE"):
            self.next()
        self.expect(";")
        plan["operators"].append(op)

    def store(self, plan: dict) -> None:
        self.expect("STORE")
        rel = self.next()
        self.expect("INTO")
        path = self.path()
        self.expect("USING")
        fmt = self.next()
        opts = self.params()
        self.expect(";")
        plan["output"] = {"name": rel, "path": path, "format": fmt, "options": opts}

    def on_completion(self, plan: dict) -> None:
        self.expect("{")
        while not self.accept("}"):
            verb = self.next().upper()
            paths = []
            while self.peek() != ";":
                paths.append(self.path())
            self.expect(";")
            plan["onCompletion"].append({"task": verb, "paths": paths})

    # -- statements ------------------------------------------------------
    def statement(self, plan: dict) -> None:
        if self.peek_kw() == "MULTIPASS":
            # semantics = several chains over one input; env-based
            # execution makes inlining exact (persist is an optimization)
            self.next()
            while self.accept("{"):
                while not self.accept("}"):
                    self.statement(plan)
            return
        lhs = self.next()
        self.expect("=")
        raw = self.peek()  # original casing, for uriOperator names
        kw = self.kw()
        ops = plan["operators"]

        if kw == "LOAD":
            plan["inputs"].append(self.load_stmt(lhs))
            return
        if kw == "LOAD-CACHED":
            path = self.path()
            self.expect("USING")
            fmt = self.next()
            opts = self.params()
            self.expect(";")
            op = {
                "operator": "LOAD_CACHED",
                "output": lhs,
                "path": path,
                "format": fmt,
            }
            if "schema" in opts:  # keep out of options: named kwarg
                op["schema"] = opts.pop("schema")
            op["options"] = opts
            ops.append(op)
            return
        if kw == "FROM":
            rel = self.next()
            self.expect("GENERATE")
            exprs = self.generate_list()
            self.expect(";")
            ops.append(
                {
                    "operator": "GENERATE",
                    "input": rel,
                    "output": lhs,
                    "outputExpressions": exprs,
                }
            )
            return
        if kw == "FILTER":
            rel = self.next()
            self.expect("BY")
            pred = self.expression(stop=(";",))
            self.expect(";")
            ops.append(
                {"operator": "FILTER", "input": rel, "output": lhs, "filterExpr": pred}
            )
            return
        if kw == "GROUP":
            rel = self.next()
            self.expect("BY")
            cols = [] if self.accept("ALL") else self.columns()
            aggs = self.agg_list() if self.accept("AGGREGATES") else []
            self.expect(";")
            ops.append(
                {
                    "operator": "GROUP_BY",
                    "input": rel,
                    "output": lhs,
                    "groupBy": cols,
                    "aggregates": aggs,
                }
            )
            return
        if kw in ("JOIN", "HASH-JOIN"):
            jt = self.join_type()
            left = self.next()
            self.expect("BY")
            # left key list ends at the ", rel BY" separator (lookahead)
            lkeys = [self.colref()]
            while self.peek() == "," and self.peek_kw(2) != "BY":
                self.next()
                lkeys.append(self.colref())
            self.expect(",")
            right = self.next()
            self.expect("BY")
            rkeys = self.columns()
            self.expect(";")
            ops.append(
                {
                    "operator": "JOIN",
                    "input": left,
                    "rightBlock": right,
                    "joinKeys": lkeys,
                    "rightKeys": rkeys,
                    "joinType": jt,
                    "output": lhs,
                }
            )
            return
        if kw == "CUBE":
            self.i -= 1
            self.cube_stmt(lhs, plan)
            return
        if kw == "FLATTEN":
            rel = self.next()
            self.expect("BY")
            specs, aliases = [], {}
            while True:
                col = self.next()
                ftype = self.kw()  # TUPLE | BAG | BAG_TUPLE (one token)
                self.expect("AS")
                self.expect("(")
                names = []
                while not self.accept(")"):
                    names.append(self.next())
                    self.expect(":")
                    self.next()  # declared type: Spark infers from data
                    self.accept(",")
                specs.append((col, ftype))
                aliases[col] = names
                if not self.accept(","):
                    break
            self.expect(";")
            ops.append(
                {
                    "operator": "FLATTEN",
                    "input": rel,
                    "output": lhs,
                    "flatten": specs,
                    "aliases": aliases,
                }
            )
            return
        if kw == "DISTINCT":
            rel = self.next()
            self.expect(";")
            ops.append({"operator": "DISTINCT", "input": rel, "output": lhs})
            return
        if kw == "LIMIT":
            rel = self.next()
            n = self.int_tok()
            self.expect(";")
            ops.append(
                {"operator": "LIMIT", "input": rel, "output": lhs, "maxTuples": n}
            )
            return
        if kw == "SORT":
            rel = self.next()
            self.expect("ON")
            cols = self.columns()
            self.expect(";")
            ops.append(
                {"operator": "SORT", "input": rel, "output": lhs, "sortBy": cols}
            )
            return
        if kw == "DUPLICATE":
            rel = self.next()
            n = self.int_tok()
            self.expect("TIMES")
            counter = None
            if self.accept("COUNTER"):
                self.expect("AS")
                counter = self.next()
            self.expect(";")
            ops.append(
                {
                    "operator": "DUPLICATE",
                    "input": rel,
                    "output": lhs,
                    "times": n,
                    "counter": counter,
                }
            )
            return
        if kw == "RANK":
            rel = self.next()
            self.expect("AS")
            col = self.next()
            group, order = [], []
            if self.accept("GROUP"):
                self.expect("BY")
                group = self.columns()
                self.expect("ORDER")
                self.expect("BY")
                order = self.columns()
            self.expect(";")
            ops.append(
                {
                    "operator": "RANK",
                    "input": rel,
                    "output": lhs,
                    "output_column": col,
                    "groupBy": group,
                    "orderBy": order,
                }
            )
            return
        if kw == "TOP":
            n = self.int_tok()
            self.expect("FROM")
            rel = self.next()
            self.expect("GROUP")
            self.expect("BY")
            group = self.columns()
            self.expect("ORDER")
            self.expect("BY")
            order = self.columns()
            self.expect(";")
            ops.append(
                {
                    "operator": "TOP_N",
                    "input": rel,
                    "output": lhs,
                    "n": n,
                    "groupBy": group,
                    "orderBy": order,
                }
            )
            return
        if kw == "GATHER":
            rels = self.columns()
            self.expect(";")
            ops.append({"operator": "GATHER", "inputs": rels, "output": lhs})
            return
        if kw == "COMBINE":
            rels = [self.next()]
            while self.accept(","):
                rels.append(self.next())
            self.expect("SORTED")
            self.expect("ON")
            cols = self.columns()
            self.expect(";")
            ops.append(
                {
                    "operator": "COMBINE",
                    "inputs": rels,
                    "output": lhs,
                    "sortedOn": cols,
                }
            )
            return
        if kw == "TEE":
            split = False
            if self.accept("WITH"):
                self.expect("SPLIT")
                split = True
            rel = self.next()
            self.expect("INTO")
            path = self.path()
            self.expect("USING")
            fmt = self.next()
            tee_opts = self.params()
            gen = None
            if self.accept("GENERATE"):
                gen = self.generate_list()
            pred = None
            if self.accept("IF"):
                pred = self.expression(stop=(";",))
            self.expect(";")
            ops.append(
                {
                    "operator": "TEE",
                    "input": rel,
                    "output": lhs,
                    "path": path,
                    "format": fmt,
                    "options": tee_opts,
                    "filterExpr": pred,
                    "generate": gen,
                    "split": split,
                }
            )
            return
        if kw == "NO_OP":
            rel = self.next()
            op = {"operator": "NO_OP", "input": rel, "output": lhs}
            if self.accept("ASSERT"):
                self.expect("PARTITIONED")
                self.expect("ON")
                op["partitionKeys"] = self.columns()
                self.expect("SORTED")
                self.expect("ON")
                op["sortKeys"] = self.columns()
            self.expect(";")
            ops.append(op)
            return
        if kw in ("ENCODE", "DECODE"):
            rel = self.next()
            self.expect("ON")
            cols = self.columns()
            self.expect("USING")
            t = self.next()
            op = {
                "operator": kw,
                "input": rel,
                "output": lhs,
                "columns": cols,
            }
            if t.startswith('"'):
                op["dictionaryPath"] = _unquote(t)
            else:
                op["dictionary"] = t
            if self.accept("NULLS"):
                self.expect("AS")
                op["nullAs"] = self.next()
            if self.accept("UNKNOWNS"):
                self.expect("AS")
                u = self.next()
                op["unknownAs"] = _unquote(u) if u.startswith('"') else u
            self.expect(";")
            ops.append(op)
            return
        if kw == "LOAD" and self.peek_kw() == "BLOCK":  # pragma: no cover
            raise ScriptError("unreachable")
        if kw == "LOADBLOCK" or kw == "BLOCK":
            raise ScriptError(
                "LOAD BLOCK: use blockgen'd bucketed tables via the API "
                "(operators.blockgen.load_block)"
            )
        if kw == "PIVOT":
            self.accept("IN")
            self.accept("MEMORY")
            rel = self.next()
            cols: list[str] = []
            if self.accept("ON"):
                cols = self.columns()
            elif self.accept("BY"):
                self.next(), self.next()
            self.expect(";")
            ops.append(
                {
                    "operator": "SHUFFLE",
                    "input": rel,
                    "output": lhs,
                    "partitionKeys": cols,
                    "pivotKeys": cols,
                    "numReducers": plan.get("reducers", 32),
                }
                if cols
                else {"operator": "NO_OP", "input": rel, "output": lhs}
            )
            return
        if kw == "VALIDATE":
            rel = self.next()
            self.expect("BY")
            self.next()  # blockgen type
            if self.peek_kw() not in ("PARTITIONED",):
                self.next()
            self.expect("PARTITIONED")
            self.expect("ON")
            pk = self.columns()
            sk = []
            if self.accept("SORTED"):
                self.expect("ON")
                sk = self.columns()
            self.expect(";")
            ops.append(
                {
                    "operator": "VALIDATE",
                    "input": rel,
                    "output": lhs,
                    "partitionKeys": pk,
                    "sortKeys": sk,
                }
            )
            return
        # uriOperator (g4:133): `lhs = com.example.MyOp rel1, rel2
        # {"k": "v"};` — a user operator resolved from the registry
        # passed to run_script/run_plan (USER_DEFINED_TUPLE/BLOCK
        # operator, OperatorType.java:59-60)
        if kw not in _KNOWN_OPS:
            uri = raw
            while self.accept("."):
                uri += "." + self.next()
            rels = [self.next()]
            while self.accept(","):
                rels.append(self.next())
            uparams: dict[str, str] = {}
            if self.accept("{"):
                while not self.accept("}"):
                    pk = _unquote(self.expect_string())
                    self.expect(":")
                    uparams[pk] = _unquote(self.expect_string())
                    self.accept(",")
            self.expect(";")
            ops.append(
                {
                    "operator": "URI_OPERATOR",
                    "uri": uri,
                    "inputs": rels,
                    "params": uparams,
                    "output": lhs,
                }
            )
            return
        raise ScriptError(f"unsupported operator {kw!r}")


# ------------------------------------------------------------------ API


def compile_script(text: str, params: dict[str, str] | None = None) -> dict:
    """Parse .cmr text -> {"name", "sets", "jobs": [json plan, ...]}.
    Preprocessor order mirrors CmrExecutor.run: <javascript> blocks,
    $var substitution, then backtick command substitution."""
    text, params = run_javascript_blocks(text, params)
    return _Parser(tokenize(substitute_backticks(substitute(text, params)))).program()


def _job_io(job: dict) -> tuple[set, set, set, set]:
    """Static (reads_rel, reads_path, writes_rel, writes_path) of a
    compiled job — the facts the parallel scheduler derives the
    dependency graph from."""
    defined: set[str] = set()
    reads_rel: set[str] = set()
    reads_path: set[str] = set()
    writes_path: set[str] = set()
    for inp in job.get("inputs", []):
        paths = inp["path"] if isinstance(inp["path"], list) else [inp["path"]]
        for p in paths:
            reads_path.add(p["root"] if isinstance(p, dict) else str(p))
        defined.add(inp["name"])
    for op in job.get("operators", []):
        # every op key run_plan resolves through env[...] (plan.py)
        for key in ("input", "leftBlock", "rightBlock", "dictionary"):
            name = op.get(key)
            if isinstance(name, str) and name not in defined:
                reads_rel.add(name)
        for name in op.get("inputs", []) or []:
            if name not in defined:
                reads_rel.add(name)
        if op.get("dictionaryPath"):
            reads_path.add(str(op["dictionaryPath"]))
        if op.get("path"):
            # dictionary / block paths may be read or written by the
            # op — count them on both sides so ordering is preserved
            reads_path.add(str(op["path"]))
            writes_path.add(str(op["path"]))
        out_name = op.get("output") or op.get("input")
        if out_name:
            defined.add(out_name)
    out = job.get("output")
    if out:
        # STORE of a relation an earlier job defined is a read of it
        if out.get("name") and out["name"] not in defined:
            reads_rel.add(out["name"])
        if out.get("path"):
            writes_path.add(str(out["path"]))
    for task in job.get("onCompletion", []):
        writes_path.update(str(p) for p in task.get("paths", []))
    return reads_rel, reads_path, defined, writes_path


def _paths_overlap(a: set, b: set) -> bool:
    import os

    for x in a:
        for y in b:
            nx, ny = os.path.normpath(x), os.path.normpath(y)
            if nx == ny or nx.startswith(ny + os.sep) or ny.startswith(nx + os.sep):
                return True
    return False


def job_dependencies(jobs: list[dict]) -> list[set[int]]:
    """Infer inter-job dependencies (the reference carries explicit
    ``dependsOn`` indices in its IR, ThreadPoolManager.java:117; the
    .cmr frontend derives the same graph from each job's relation and
    path IO): job i depends on j<i on any read-write, write-write, or
    write-after-read overlap."""
    io = [_job_io(j) for j in jobs]
    deps: list[set[int]] = []
    for i in range(len(jobs)):
        r_rel, r_path, w_rel, w_path = io[i]
        d: set[int] = set()
        for j in range(i):
            jr_rel, jr_path, jw_rel, jw_path = io[j]
            if (
                (r_rel & jw_rel)
                or (w_rel & jw_rel)
                or (jr_rel & w_rel)
                or _paths_overlap(r_path, jw_path)
                or _paths_overlap(w_path, jw_path)
                or _paths_overlap(jr_path, w_path)
            ):
                d.add(j)
        deps.append(d)
    return deps


def _run_completion_tasks(spark, job) -> None:
    import os
    import shutil

    for task in job.get("onCompletion", []):
        verb, paths = task["task"], task["paths"]
        if verb == "RM":
            for p in paths:
                shutil.rmtree(p, ignore_errors=True)
        elif verb == "MV":
            os.replace(paths[0], paths[1])
        elif verb == "MKDIR":
            for p in paths:
                os.makedirs(p, exist_ok=True)
        elif verb == "DUMP":
            # CompletionTasks.java dump: print the stored output
            spark.read.parquet(paths[0]).show(20, truncate=False)


#: concurrent .cmr jobs per script (ExecutorService.java:41)
_MAX_PARALLEL_JOBS = 5


def run_script(
    spark: SparkSession,
    text: str,
    params: dict[str, str] | None = None,
    relations: dict[str, DataFrame] | None = None,
    operators: dict | None = None,
) -> dict[str, DataFrame]:
    """Execute a .cmr script. Independent jobs run concurrently on a
    thread pool of ``_MAX_PARALLEL_JOBS`` workers (the reference's
    ExecutorService cap, ExecutorService.java:41); dependent jobs are
    ordered by the inferred relation/path IO graph. Spark's own
    scheduler additionally parallelizes stages within each job.
    Returns the final relation environment."""
    import concurrent.futures as cf
    import threading

    from cubert_spark.script.plan import run_plan

    prog = compile_script(text, params)
    jobs = prog["jobs"]
    env: dict[str, DataFrame] = dict(relations or {})
    deps = job_dependencies(jobs)
    lock = threading.Lock()
    done: set[int] = set()

    def run_one(idx: int) -> None:
        from cubert_spark.session import ensure_active_session

        ensure_active_session(spark)
        with lock:
            snapshot = dict(env)
        result = run_plan(spark, jobs[idx], snapshot, operators=operators)
        _run_completion_tasks(spark, jobs[idx])
        with lock:
            # merge only what this job added/changed; siblings may
            # have merged theirs meanwhile (no conflicts: write-write
            # overlaps are ordered by the graph)
            for k, v in result.items():
                if k not in snapshot or v is not snapshot[k]:
                    env[k] = v
            done.add(idx)

    with cf.ThreadPoolExecutor(max_workers=_MAX_PARALLEL_JOBS) as pool:
        pending = set(range(len(jobs)))
        running: dict[cf.Future, int] = {}
        # job_dependencies links a job only to EARLIER jobs, so once
        # nothing runs the lowest pending job is ready: no cycle stalls
        while pending or running:
            ready = [i for i in sorted(pending) if deps[i] <= done]
            for i in ready:
                pending.discard(i)
                running[pool.submit(run_one, i)] = i
            fs = cf.wait(
                list(running), return_when=cf.FIRST_COMPLETED
            ).done
            for f in fs:
                running.pop(f)
                f.result()  # re-raise job failures
    return env


def run_script_file(
    spark: SparkSession, path: str, params: dict[str, str] | None = None
) -> dict[str, DataFrame]:
    with open(path) as f:
        return run_script(spark, f.read(), params)
