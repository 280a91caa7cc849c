#!/usr/bin/env python3
"""Layered benchmark of the cubert_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload olap_sf1 --seed 7 --seconds 25 --trace 0

One invocation is one closed-loop client in one process, on
``local[nproc]``:

1. Inputs: the workload's tables and a tiny warm-up copy are generated
   from ``--seed`` by ``tools/gen_testdata.generate`` and cached, with
   the DuckDB oracle's answers, under ``.perfbench_cache/``.
2. Setup, ``SETUPS`` times (median reported): ``get_session`` plus
   ``warm_codegen`` of the workload's warm-up ops on the tiny input.
3. Correctness gate: every op is checked once against its oracle
   answer with ``oracle.compare``.
4. Timed passes over the ops until ``--seconds`` is spent (at least
   one). For each op, ``release_checkpoints`` and
   ``reset_materialized`` run first, outside the timing; then the
   builder call (build layer) and the noop-sink write (exec layer) are
   timed, each under its own Spark job group.
5. With ``--trace 1``, the workload's traced-only ops join the gate,
   and one more pass is traced: spans around the layer calls, py4j
   round trips, and the jobs, stages and SQL executions of each group
   read back from Spark's status store. Direct calls into the catalog
   and checkpoint layers follow. Spans, counters and per-op records go
   to ``.perfbench_traces/``.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``, end-to-end metrics
untraced, per-layer metrics traced. The line before it carries the run's
details: input sizes, host fingerprint, per-op timings, verdicts.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")
ANSWERS = "answers.duckdb"
KEEP_INPUTS = 3
#: Scale of the warm-up input each setup runs the ops on.
TINY_SF = 0.001

SETUPS = 5
QUIESCE_S = 0.5
#: Driver heap. The engine defaults to 8g; the machines this runs on
#: are shared, and the ops here fit in 3g.
DRIVER_MEM = "3g"

pc = time.perf_counter


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> dict[str, str]:
    """Per-run directories inside the checkout, and the environment
    the JVM and the Python workers inherit. Must run before the JVM
    starts."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "jvm", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=dirs["local"],
        # the ops' and the engine's roundtrip writes go under mkdtemp()
        TMPDIR=dirs["tmp"],
        # Python data sources (the avro writer) import cubert_spark on
        # the workers
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['jvm']} -XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def dir_mb(*paths: str) -> float:
    total = 0
    for path in paths:
        for base, _, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(base, f))
                except OSError:
                    pass
    return total / 1e6


def empty_dir(path: str) -> None:
    for name in os.listdir(path):
        shutil.rmtree(os.path.join(path, name), ignore_errors=True)


# -- inputs ----------------------------------------------------------------
def ensure_input(sf: float, seed: int) -> tuple[str, dict]:
    """Generated tables for (sf, seed), cached. Returns the directory
    and its manifest: rows and bytes per table, generation seconds."""
    d = os.path.join(CACHE_DIR, f"sf{sf:g}_seed{seed}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        import pyarrow.parquet as pq
        from tools.gen_testdata import generate

        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = pc()
        generate(sf, tmp, seed=seed)
        tables = {
            f[: -len(".parquet")]: {
                "rows": pq.ParquetFile(os.path.join(tmp, f)).metadata.num_rows,
                "bytes": os.path.getsize(os.path.join(tmp, f)),
            }
            for f in sorted(os.listdir(tmp))
            if f.endswith(".parquet")
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"sf": sf, "seed": seed, "gen_s": pc() - t0, "tables": tables}, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        evict_inputs(sf, keep=d)
    with open(manifest) as f:
        return d, json.load(f)


def evict_inputs(sf: float, keep: str) -> None:
    """Keep the cache to the ``KEEP_INPUTS`` newest inputs of one scale
    (sf1 is 163 MB a seed), so disk use stays flat across seeds."""
    prefix = os.path.join(CACHE_DIR, f"sf{sf:g}_seed")
    old = sorted(
        (p for p in (os.path.join(CACHE_DIR, n) for n in os.listdir(CACHE_DIR))
         if p.startswith(prefix) and p[len(prefix):].isdigit() and p != keep),
        key=os.path.getmtime,
    )
    for p in old[: max(0, len(old) - (KEEP_INPUTS - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def answer_table(sql: str) -> str:
    return "answer_" + hashlib.sha1(sql.encode()).hexdigest()[:16]


def prepare_input(sf: float, seed: int, oracles: list[str]) -> None:
    data_dir, _ = ensure_input(sf, seed)
    ensure_answers(data_dir, oracles)


def ensure_answers(data_dir: str, oracles: list[str]) -> None:
    """DuckDB's answer to every op's oracle SQL over ``data_dir``,
    computed once and kept in a DuckDB file next to the data (keyed by
    the SQL text, so a changed oracle is recomputed)."""
    from cubert_spark.oracle import duck_connect

    path = os.path.join(data_dir, ANSWERS)
    con = duck_connect(data_dir)
    try:
        con.execute(f"ATTACH '{path}' AS answers")
        have = {
            r[0] for r in con.execute(
                "SELECT table_name FROM information_schema.tables "
                "WHERE table_catalog = 'answers'"
            ).fetchall()
        }
        for sql in oracles:
            name = answer_table(sql)
            if name not in have:
                con.execute(f"CREATE TABLE answers.{name} AS {sql}")
                have.add(name)
        con.execute("DETACH answers")
    finally:
        con.close()


def host_info() -> dict:
    from bench import host_fingerprint

    return {**host_fingerprint(), "loadavg": list(os.getloadavg()), "nproc": nproc()}


# -- processes -------------------------------------------------------------
def _descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (the
    Python workers of a JVM that has exited, the launcher's helpers),
    so ``reap_all`` can find each one and wait for it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_all(grace: float = 15.0) -> None:
    """Stop every process this run started, SIGTERM first and SIGKILL
    after ``grace`` seconds, and return only when none is left."""
    deadline = pc() + grace
    termed: set[int] = set()
    while True:
        _reap_children()
        kids = _descendants(os.getpid())
        if not kids:
            return
        kill = pc() > deadline
        for k in kids:
            if kill or k not in termed:
                try:
                    os.kill(k, signal.SIGKILL if kill else signal.SIGTERM)
                except OSError:
                    pass
                termed.add(k)
        time.sleep(0.05)


def _exit_on_signal(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc else None


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited.
    Its Python workers are left to ``reap_all``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- the measured loop ------------------------------------------------------
def hygiene() -> int:
    from cubert_spark.checkpoints import release_checkpoints
    from cubert_spark.queries.extensions import reset_materialized

    released = release_checkpoints()
    reset_materialized()
    return released


def run_pass(spark, ops, data_dir: str, tag: str, counter=None) -> list[dict]:
    """One pass over the ops. With ``counter`` (the traced pass) it also
    records spans, py4j round trips of each build, and the block-manager
    storage each release frees."""
    from perfbench import layers as L

    sc = spark.sparkContext
    recs = []
    for op in ops:
        rec: dict = {"op": op.name}
        if counter is not None:
            rec.update(_release(spark))
        else:
            hygiene()
        L.TRACER.op = op.name
        try:
            for which in ("build", "exec"):
                rec[f"{which}_group"] = f"{L.GROUP_PREFIX}{tag}:{op.name}:{which}"
            sc.setJobGroup(rec["build_group"], rec["build_group"])
            calls0 = counter.count if counter else 0
            if counter:
                counter.active = True
            w0, p0 = time.time(), pc()
            with L.span("queries.build"):
                df = op.fn(spark, data_dir)
            p1, w1 = pc(), time.time()
            if counter:
                counter.active = False
                rec["py4j_calls"] = counter.count - calls0
            sc.setJobGroup(rec["exec_group"], rec["exec_group"])
            w2, p2 = time.time(), pc()
            with L.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            p3, w3 = pc(), time.time()
            rec.update(
                build_s=p1 - p0, exec_s=p3 - p2,
                build_window=(w0, w1), exec_window=(w2, w3),
            )
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            if counter:
                counter.active = False
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            print(f"perfbench: {op.name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            L.TRACER.op = None
        recs.append(rec)
    idle = f"{L.GROUP_PREFIX}idle"
    sc.setJobGroup(idle, idle)
    return recs


def quiesce(spark) -> None:
    """Start a pass from a collected heap on both sides, after the JIT
    compiler threads have had a moment to drain their queue."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(QUIESCE_S)


def pass_wall(recs: list[dict]) -> float:
    return sum(r.get("build_s", 0.0) + r.get("exec_s", 0.0) for r in recs)


def verify(spark, ops, data_dir: str, answers: str) -> dict:
    """Check every op's output against DuckDB's cached answer."""
    import duckdb

    from cubert_spark.oracle import compare

    con = duckdb.connect(answers, read_only=True)
    out = {}
    try:
        for op in ops:
            hygiene()
            t0 = pc()
            try:
                r = compare(
                    op.name, op.fn(spark, data_dir),
                    f"SELECT * FROM {answer_table(op.oracle)}", con,
                )
                ok = r.match and not r.vacuous
                out[op.name] = {"ok": ok, "rows": r.rows_spark, "detail": r.detail[:500]}
            except Exception as e:  # noqa: BLE001 - an op that raises fails the gate
                out[op.name] = {"ok": False, "rows": 0, "detail": f"{type(e).__name__}: {e}"[:500]}
                print(traceback.format_exc(), file=sys.stderr)
            out[op.name]["s"] = pc() - t0
            if not out[op.name]["ok"]:
                print(f"perfbench: {op.name} failed its oracle: {out[op.name]['detail']}",
                      file=sys.stderr)
    finally:
        con.close()
    hygiene()
    return out


def setup(workload, ops, seed: int, dirs: dict):
    """``SETUPS`` times: (re)start the session and warm the ops that need
    it on the tiny input. Returns the live session and the timings."""
    from cubert_spark.session import get_session, warm_codegen

    tiny_dir, _ = ensure_input(TINY_SF, seed)
    # The full-size input and its oracle answers are prepared by a child
    # process while the first (cold) setup runs. The run waits for it
    # before the second setup, so the setups that set the median run
    # alone.
    prep = subprocess.Popen(
        [sys.executable, "-c",
         "import json, sys\n"
         "from perfbench.run import prepare_input\n"
         "prepare_input(*json.load(sys.stdin))"],
        stdin=subprocess.PIPE, cwd=ROOT, text=True,
    )
    with prep.stdin:
        json.dump([workload.sf, seed, [op.oracle for op in ops]], prep.stdin)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # a heap fixed at its maximum from the start: the collector's
        # resizing otherwise varies run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    warm = [op.fn for op in ops if op.name in workload.warm]
    spark, setups = None, []
    try:
        for i in range(SETUPS):
            if spark is not None:
                hygiene()
                spark.stop()
            t0 = pc()
            spark = get_session("perfbench", extra_conf=conf)
            t1 = pc()
            warm_s = warm_codegen(spark, warm, tiny_dir, repeats=1)
            setups.append({"start_s": t1 - t0, "warm_s": warm_s, "setup_s": pc() - t0})
            if i == 0 and prep.wait() != 0:
                raise RuntimeError(f"input preparation failed (exit {prep.returncode})")
    except BaseException:
        if prep.poll() is None:
            prep.kill()
        if spark is not None:
            stop_spark(spark)
        raise
    finally:
        prep.wait()
    return spark, setups


def timed_passes(spark, ops, data_dir: str, seconds: float, dirs: dict):
    """Passes until another would exceed ``seconds``, at least one.
    Returns the pass records and the MB each pass stored."""
    passes, stored = [], []
    t0 = pc()
    while True:
        quiesce(spark)
        passes.append(run_pass(spark, ops, data_dir, f"p{len(passes)}"))
        stored.append(dir_mb(dirs["tmp"], dirs["warehouse"]))
        hygiene()
        empty_dir(dirs["tmp"])
        walls = [pass_wall(p) for p in passes]
        if pc() - t0 + statistics.median(walls) > seconds:
            return passes, stored


def measure(args, dirs: dict) -> tuple[dict, dict, dict]:
    from perfbench import layers as L
    from perfbench import metrics as M
    from perfbench import workloads as W

    workload = W.WORKLOADS[args.workload]
    ops = W.ops_for(workload.ops)
    # ops only the traced run executes (see Workload.traced_only)
    extra = W.ops_for(workload.traced_only) if args.trace else []
    host = host_info()
    spark, setups = setup(workload, ops + extra, args.seed, dirs)
    data_dir, manifest = ensure_input(workload.sf, args.seed)
    detail: dict = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "input": manifest, "host": host, "ops": [op.name for op in ops + extra],
        "setups": setups,
    }
    try:
        hygiene()
        empty_dir(dirs["tmp"])
        t0 = pc()
        verdicts = verify(spark, ops + extra, data_dir, os.path.join(data_dir, ANSWERS))
        verify_s = pc() - t0
        empty_dir(dirs["tmp"])
        detail["verdicts"] = verdicts

        sampler = L.RssSampler([os.getpid(), jvm_pid()])
        sampler.start()
        passes, stored = timed_passes(spark, ops, data_dir, args.seconds, dirs)
        peak_rss_mb = sampler.stop()
        wall_s = statistics.median(pass_wall(p) for p in passes)
        detail["passes"] = [
            {r["op"]: [r.get("build_s"), r.get("exec_s")] for r in p} for p in passes
        ]
        detail["stored_mb"] = stored

        failed = sum(not v["ok"] for v in verdicts.values())
        failed += sum("error" in r for p in passes for r in p)
        attempted = len(verdicts) + sum(len(p) for p in passes)
        counts = {"attempted": attempted, "failed": failed}
        if not args.trace:
            metrics = {
                "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
                "wall_s": (wall_s, "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
            return metrics, counts, detail

        traced = trace_pass(spark, workload, ops + extra, data_dir, dirs)
        counts["attempted"] += len(traced["records"])
        counts["failed"] += sum("error" in r for r in traced["records"])
        metrics = M.per_layer(
            setups=setups, verdicts=verdicts, verify_s=verify_s,
            untraced={op.name for op in ops}, untraced_wall_s=pass_wall(passes[-1]),
            cores=nproc(), **traced,
        )
        os.makedirs(TRACE_DIR, exist_ok=True)
        trace_path = os.path.join(TRACE_DIR, f"{workload.name}_seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({
                "spans": L.TRACER.spans, "records": traced["records"],
                "releases": traced["releases"],
                "metrics": {k: v[0] for k, v in metrics.items()},
            }, f, indent=1, default=str)
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        return metrics, counts, detail
    finally:
        stop_spark(spark)


def _release(spark) -> dict:
    from perfbench import layers as L

    rec = {"storage_mb": L.storage_mb(spark)}
    t0 = pc()
    with L.span("checkpoints.release"):
        rec["released"] = hygiene()
    rec["release_s"] = pc() - t0
    return rec


def trace_pass(spark, workload, ops, data_dir: str, dirs: dict) -> dict:
    """The traced pass, then direct calls into the catalog and
    checkpoint layers, then one read of Spark's status store."""
    from cubert_spark.catalog import load_table
    from cubert_spark.checkpoints import eager_checkpoint
    from perfbench import layers as L

    sc = spark.sparkContext
    status = L.StatusStore(spark)
    first_sql = status.sql_count()
    counter = L.Py4jCounter(sc._gateway._gateway_client)
    L.TRACER.enabled = True
    try:
        quiesce(spark)
        records = run_pass(spark, ops, data_dir, "traced", counter)
        stored_mb = dir_mb(dirs["tmp"], dirs["warehouse"])
        releases = [r for r in records if "released" in r] + [_release(spark)]
        group = f"{L.GROUP_PREFIX}probe"
        sc.setJobGroup(group, group)
        w0 = time.time()
        for t in workload.tables:
            with L.span("catalog.load"):
                load_table(spark, data_dir, t)
        catalog_probe = {"group": group, "window": (w0, time.time()),
                         "calls": len(workload.tables)}
        group = f"{L.GROUP_PREFIX}checkpoint"
        sc.setJobGroup(group, group)
        with L.span("checkpoints.checkpoint"):
            eager_checkpoint(load_table(spark, data_dir, workload.tables[-1]))
        releases.append(_release(spark))
        sc.setJobGroup(f"{L.GROUP_PREFIX}idle", f"{L.GROUP_PREFIX}idle")
    finally:
        L.TRACER.enabled = False
        counter.uninstall()
    empty_dir(dirs["tmp"])
    return {
        "records": records, "releases": releases, "catalog_probe": catalog_probe,
        "stored_mb": stored_mb, "jobs": status.jobs(), "stages": status.stages(),
        "sql": status.sql_executions(first_sql),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    work = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    try:
        dirs = prepare_env(work)
        try:
            import cubert_spark  # noqa: F401 - fail early without the engine
            from perfbench import workloads
        except ImportError as e:
            print(f"perfbench: cannot import the engine under {ROOT}: {e}", file=sys.stderr)
            return 2
        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        metrics, counts, detail = measure(args, dirs)
    finally:
        reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps({
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
