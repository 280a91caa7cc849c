"""Measuring the engine's layers from outside it.

Nothing here touches the engine's code. Layer boundaries come from
three sources:

* spans the benchmark records around its own calls into the engine's
  public functions (``span``);
* Spark's status store: jobs, stages with their task metrics, and SQL
  executions with their final physical plans, read once after the
  traced pass (``StatusStore``);
* in the traced run only, a counter on py4j's client call
  (``Py4jCounter``), which counts driver round trips to the JVM.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


# -- spans ---------------------------------------------------------------
class Tracer:
    """In-memory span log. Disabled (a no-op) outside the traced pass."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({
            "id": sid,
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        })
        self._stack.append(sid)
        return sid

    def close(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid]["end"] = time.time()
        self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]


TRACER = Tracer()


@contextmanager
def span(name: str):
    sid = TRACER.open(name)
    try:
        yield
    finally:
        TRACER.close(sid)


# -- py4j round trips ----------------------------------------------------
class Py4jCounter:
    """Counts commands py4j sends to the JVM while ``active``. Object
    release messages are left out: Python's garbage collector decides
    when those go, so they would make the count vary run to run."""

    def __init__(self, client) -> None:
        self.active = False
        self.count = 0
        orig = client.send_command

        def send_command(command, *args, **kwargs):
            if self.active and not command.startswith("m\n"):
                self.count += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command
        self._client, self._orig = client, orig

    def uninstall(self) -> None:
        self._client.send_command = self._orig


# -- resident memory -----------------------------------------------------
def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak of the summed RSS of ``pids``, sampled every ``interval`` s
    on a background thread between ``start`` and ``stop``."""

    def __init__(self, pids: list[int], interval: float = 0.05) -> None:
        self.pids, self.interval, self.peak = pids, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 1e6


# -- Spark's status store --------------------------------------------------
class StatusStore:
    """Jobs, stages and SQL executions as plain dicts, fetched as JSON
    through Spark's own Jackson mapper (one py4j call per list)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._core.jobsList(None))

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every retained stage, by stage id."""
        quantiles = getattr(self._core, "stageList$default$4")()
        out: dict[int, dict] = {}
        for s in self._json(self._core.stageList(None, False, False, quantiles, None)):
            if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
                out[s["stageId"]] = s
        return out

    def sql_count(self) -> int:
        return self._sql.executionsCount()

    def sql_executions(self, first: int) -> list[dict]:
        """SQL executions from position ``first`` on (in id order), each
        with its plan nodes' metric values by accumulator id."""
        n = self.sql_count() - first
        out = self._json(self._sql.executionsList(first, n)) if n > 0 else []
        for e in out:
            e["metricValues"] = self._json(self._sql.executionMetrics(e["executionId"]))
        return out


def storage_mb(spark) -> float:
    """Block-manager memory held by cached/checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 1e6


# -- final physical plans --------------------------------------------------
_NODE = re.compile(r"^[\s:+\-]*(?:\* )?(?P<name>[A-Za-z][^(]*?) \((?P<id>\d+)\)")


def final_plan_nodes(description: str) -> list[tuple[int, str]]:
    """(indent, name) of each node of the executed plan's tree. For
    adaptive plans, only the ``== Final Plan ==`` sections count."""
    nodes: list[tuple[int, str]] = []
    adaptive = "== Final Plan ==" in description
    take = False
    for line in description.splitlines():
        if "== Physical Plan ==" in line:
            take = not adaptive
            continue
        if "== Final Plan ==" in line:
            take = True
            continue
        if "== Initial Plan ==" in line or not line.strip():
            take = False
            continue
        m = _NODE.match(line) if take else None
        if m:
            nodes.append((m.start("name"), m.group("name").strip()))
    return nodes


def count_exchanges(nodes: list[tuple[int, str]]) -> int:
    """Shuffle and broadcast exchanges (reused ones are not new work)."""
    return sum(1 for _, name in nodes if name in ("Exchange", "BroadcastExchange"))


def join_shuffles(nodes: list[tuple[int, str]]) -> int:
    """Shuffle exchanges anywhere below a join: the work co-bucketed
    (BLOCKGEN) inputs exist to avoid."""
    below: set[int] = set()
    for i, (indent, name) in enumerate(nodes):
        if "Join" not in name and name != "CartesianProduct":
            continue
        for j in range(i + 1, len(nodes)):
            if nodes[j][0] <= indent:
                break
            if nodes[j][1] == "Exchange":
                below.add(j)
    return len(below)


# -- attributing the pass ----------------------------------------------------
#: Prefix of every job group (and job description) the benchmark sets.
GROUP_PREFIX = "perfbench:"


def _in(window: tuple[float, float], t_ms) -> bool:
    return t_ms is not None and window[0] * 1000 <= t_ms <= window[1] * 1000


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals (ms in, s out)."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000


class PassLayers:
    """Splits one traced pass into its layers. Spark jobs are matched
    to an op's build or exec call by the job group set before the call;
    jobs without a group (those started on a script runner's worker
    threads, which do not inherit it) and SQL executions are matched by
    submission time within the call's window."""

    def __init__(self, jobs: list[dict], stages: dict[int, dict], sql: list[dict]) -> None:
        self.jobs, self.stages, self.sql = jobs, stages, sql

    def jobs_of(self, group: str, window: tuple[float, float]) -> list[dict]:
        return [
            j for j in self.jobs
            if j.get("jobGroup") == group
            or (not j.get("jobGroup") and _in(window, j.get("submissionTime")))
        ]

    def jobs_in(self, window: tuple[float, float]) -> list[dict]:
        return [j for j in self.jobs if _in(window, j.get("submissionTime"))]

    def sql_of(self, group: str, window: tuple[float, float]) -> list[dict]:
        return [
            e for e in self.sql
            if e.get("description") == group
            or (
                not (e.get("description") or "").startswith(GROUP_PREFIX)
                and _in(window, e.get("submissionTime"))
            )
        ]

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        """Stages that ran (skipped ones reused earlier shuffle output)."""
        ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        return [
            self.stages[i] for i in sorted(ids)
            if i in self.stages and self.stages[i]["status"] == "COMPLETE"
        ]

    def layer(self, rec: dict, which: str) -> tuple[list, list, list]:
        group, window = rec[f"{which}_group"], rec[f"{which}_window"]
        jobs = self.jobs_of(group, window)
        return jobs, self.stages_of(jobs), self.sql_of(group, window)


_SIZE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def sql_size_mb(executions: list[dict], metric: str) -> float:
    """Sum of a size metric over the plan nodes of ``executions``, in
    MB. Spark renders sizes as text, e.g. ``2.6 MiB``; for per-task
    metrics the first size shown is the total."""
    total = 0.0
    for e in executions:
        names = {m["accumulatorId"]: m["name"] for m in e.get("metrics") or []}
        for acc, value in (e.get("metricValues") or {}).items():
            m = _SIZE.search(value) if names.get(int(acc)) == metric else None
            if m:
                total += float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]
    return total / 1e6


def stage_sum(stages: list[dict], key: str) -> float:
    return float(sum(s.get(key) or 0 for s in stages))


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    return [
        (j["submissionTime"], j["completionTime"])
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]
