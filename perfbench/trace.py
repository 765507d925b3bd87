"""Tracing for the per-layer run: spans around calls into the engine's
public functions, plus Spark's own job, stage and SQL-node metrics read
from the UI's REST API and attributed to ops.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Records spans: name, start, end, parent span, op id and thread.

    The benchmark has one client thread, so the current op is one
    attribute. A span opened on another thread (``foreachBatch`` runs on
    the stream's own thread) takes as parent the innermost span open on
    the client thread.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._local = threading.local()
        self._client = threading.get_ident()
        self._client_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._client:
            return self._client_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._client_stack[-1] if self._client_stack else None
        )
        rec = {"name": name, "op": self.op, "parent": parent,
               "thread": threading.get_ident(), "start": time.monotonic(),
               "wall_start": time.time(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic()

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a wrapper that records a span while a
        traced op runs."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if self.op is None:
                return fn(*a, **kw)
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def self_times(self) -> None:
        """Set each span's ``self_s``: its duration minus the part of its
        interval that its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered, upto = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], upto), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    upto = hi
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - covered

    def total(self, name: str, ops: set[str], key: str = "self_s") -> float:
        return sum(s[key] for s in self.spans if s["name"] == name and s["op"] in ops)

    def count(self, name: str, ops: set[str]) -> int:
        return sum(1 for s in self.spans if s["name"] == name and s["op"] in ops)


# --------------------------------------------------------------------------
# Spark's REST API


def _when(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def metric_value(text: str) -> float:
    """A SQL node metric as shown by the UI, in seconds, bytes or rows:
    "350 ms", "61.0 KiB", "9,154", or a multi-task
    "total (min, med, max ...)\\n222 ms (110 ms, ...)"."""
    head = text.strip().split("\n")[-1].split(" (")[0].strip()
    parts = head.replace(",", "").split()
    if len(parts) == 2:
        return float(parts[0]) * _UNITS[parts[1]]
    return float(parts[0])


class SparkRest:
    def __init__(self, sc) -> None:
        if not sc.uiWebUrl:
            raise RuntimeError("Spark UI is off; the traced run needs it")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait (up to 30 s) until the status store has seen every job end."""
        deadline = time.monotonic() + 30.0
        last = None
        while time.monotonic() < deadline:
            jobs = self.get("/jobs")
            state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if state == last and state[1] == 0:
                return
            last = state
            time.sleep(0.5)


# roll-up of SQL plan nodes into layers: (layer metric, node test, metric name)
_NODE_LAYERS = [
    ("tables.scan_s", lambda n: n.startswith("Scan "), "scan time"),
    ("tables.scan_rows", lambda n: n.startswith("Scan "), "number of output rows"),
    ("exchange.shuffle_bytes", lambda n: n == "Exchange", "shuffle bytes written"),
    ("exchange.shuffle_records", lambda n: n == "Exchange", "shuffle records written"),
    ("exchange.write_s", lambda n: n == "Exchange", "shuffle write time"),
    ("kernel.python_s", lambda n: True, "time to run Python workers"),
    ("aggregate.build_s", lambda n: True, "time in aggregation build"),
    ("sort.sort_s", lambda n: n == "Sort", "sort time"),
]
# Operator times that a whole-stage-codegen pipeline's "duration" already
# holds when the operator is fused into it (a columnar scan feeds the
# pipeline through its ColumnarToRow parent).
_FUSED = ("tables.scan_s", "aggregate.build_s", "sort.sort_s")
# kernel.codegen_s is each pipeline's self time: its duration minus the
# fused operator times above
NODE_LAYERS = [m for m, _, _ in _NODE_LAYERS] + ["kernel.codegen_s"]
# layers whose times can name a query's dominant one
TIME_LAYERS = [m for m in NODE_LAYERS if m.endswith("_s")]


def node_rollup(execution: dict) -> dict[str, float]:
    out = dict.fromkeys(NODE_LAYERS, 0.0)
    nodes = {n["nodeId"]: n for n in execution.get("nodes", [])}
    parent = {e["fromId"]: e["toId"] for e in execution.get("edges", [])}
    fused: dict[int, float] = {}  # codegen stage id -> fused operator time
    durations: dict[int, float] = {}  # codegen stage id -> duration
    for nd in nodes.values():
        metrics = {m["name"]: m["value"] for m in nd.get("metrics", [])}
        name = nd["nodeName"]
        if name.startswith("WholeStageCodegen (") and "duration" in metrics:
            durations[int(name[len("WholeStageCodegen ("):-1])] = metric_value(metrics["duration"])
            continue
        stage = nd.get("wholeStageCodegenId",
                       nodes.get(parent.get(nd["nodeId"]), {}).get("wholeStageCodegenId"))
        for layer, test, metric in _NODE_LAYERS:
            if metric in metrics and test(name):
                v = metric_value(metrics[metric])
                out[layer] += v
                if layer in _FUSED and stage is not None:
                    fused[stage] = fused.get(stage, 0.0) + v
    out["kernel.codegen_s"] = sum(max(0.0, d - fused.get(i, 0.0)) for i, d in durations.items())
    return out


def serve_rows(execution: dict) -> tuple[float, float]:
    """(posting rows, fan-out rows) of a BM25 plan.

    The fan-out join is the join that feeds the (query, doc) aggregation
    through projections only. Fan-out rows are its output; posting rows are
    the rows its probe (non-broadcast) side delivers to it.
    """
    nodes = {n["nodeId"]: n for n in execution.get("nodes", [])}
    parent: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for e in execution.get("edges", []):
        parent[e["fromId"]] = e["toId"]
        children.setdefault(e["toId"], []).append(e["fromId"])

    def rows(n) -> float | None:
        for m in n.get("metrics", []):
            if m["name"] == "number of output rows":
                return metric_value(m["value"])
        return None

    def probe_rows(at: int) -> float:
        while True:
            kids = [k for k in children.get(at, [])
                    if not nodes[k]["nodeName"].startswith(("BroadcastExchange", "BroadcastQueryStage"))]
            if not kids:
                return 0.0
            at = kids[0]
            if rows(nodes[at]) is not None:
                return rows(nodes[at])

    best = (0.0, 0.0)
    for n in nodes.values():
        if "Join" not in n["nodeName"]:
            continue
        at = parent.get(n["nodeId"])
        while at is not None and nodes[at]["nodeName"] == "Project":
            at = parent.get(at)
        if at is not None and nodes[at]["nodeName"] == "HashAggregate":
            best = max(best, (probe_rows(n["nodeId"]), rows(n) or 0.0), key=lambda t: t[1])
    return best


class SparkMetrics:
    """Jobs, stages and SQL executions of a finished run, attributed to ops.

    A job carries its op's job group when it ran on the client thread.
    Jobs started on other threads (a stream's ``foreachBatch``) carry no
    group or the stream's own; they belong to the op whose wall-clock
    interval holds their submission time. Untraced ops' jobs carry their
    own groups and fall in no traced op's interval.
    """

    def __init__(self, rest: SparkRest, windows: dict[str, tuple[float, float]]) -> None:
        rest.settle()
        self.windows = windows
        jobs = rest.get("/jobs")
        stages = {}
        for s in rest.get("/stages?details=false"):
            if s["status"] == "COMPLETE":
                stages[s["stageId"]] = s
        self.job_op: dict[int, str] = {}
        self.jobs: dict[str, list[dict]] = {op: [] for op in windows}
        for j in jobs:
            op = self._op_of(j.get("jobGroup"), _when(j["submissionTime"]))
            if op is not None:
                self.job_op[j["jobId"]] = op
                self.jobs[op].append(j)
        self.stages = {
            op: [stages[i] for j in js for i in j["stageIds"] if i in stages]
            for op, js in self.jobs.items()
        }
        self.sql: dict[str, list[dict]] = {op: [] for op in windows}
        for e in rest.get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
            ops = {self.job_op[i] for i in e.get("successJobIds", []) if i in self.job_op}
            op = ops.pop() if len(ops) == 1 else self._op_of(None, _when(e["submissionTime"]))
            if op is not None:
                self.sql[op].append(e)

    def _op_of(self, group: str | None, when: float) -> str | None:
        if group in self.windows:
            return group
        for op, (lo, hi) in self.windows.items():
            if lo <= when <= hi:
                return op
        return None

    def per_op(self, ops: list[str]) -> dict[str, float]:
        n = len(ops)
        st = [s for op in ops for s in self.stages[op]]
        out = {
            "spark.jobs_per_op": sum(len(self.jobs[op]) for op in ops) / n,
            "spark.tasks_per_op": sum(s["numTasks"] for s in st) / n,
            "spark.cpu_s_per_op": sum(s["executorCpuTime"] for s in st) / 1e9 / n,
            "spark.shuffle_write_bytes_per_op": sum(s["shuffleWriteBytes"] for s in st) / n,
            "spark.spill_bytes_per_op": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st
            ) / n,
        }
        nodes = dict.fromkeys(NODE_LAYERS, 0.0)
        for op in ops:
            for layer, v in self.rollup(op).items():
                nodes[layer] += v
        out.update({k: v / n for k, v in nodes.items()})
        return out

    def rollup(self, op: str) -> dict[str, float]:
        out = dict.fromkeys(NODE_LAYERS, 0.0)
        for e in self.sql[op]:
            for layer, v in node_rollup(e).items():
                out[layer] += v
        return out

    def last_sql(self, op: str) -> dict | None:
        return max(self.sql[op], key=lambda e: e["id"], default=None)
