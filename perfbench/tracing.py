"""Tracing from outside the program: spans around the public functions of
each engine module, a py4j call counter, and Spark jobs read back from the
event log and assigned to operations by time window.

Nothing here edits the engine. ``Tracer.install`` replaces module attributes
and class methods with timing wrappers before the query modules are
imported, so the names those modules bind at import time are the wrapped
ones. Spans stay in memory; ``Tracer.dump`` writes them out at the end.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import threading
import time

# Engine modules whose public functions are layer boundaries.
FUNCTION_LAYERS = [
    "session",
    "tables",
    "operators.tpch",
    "operators.joins",
    "operators.aggregations",
    "operators.windows",
    "llm.dedup",
    "llm.text",
    "llm.similarity",
    "llm.vecindex",
]
# SnapshotTable mixins: the module a method is defined in names its layer.
SNAPSHOT_LAYERS = {
    "SnapshotCommitMixin": "sources.snapshots.commit",
    "SnapshotDmlMixin": "sources.snapshots.dml",
    "SnapshotStatsMixin": "sources.snapshots.stats",
    "SnapshotMaintenanceMixin": "sources.snapshots.maintenance",
}
PKG = "iceberg_insert_spark"


class Tracer:
    """Span recorder. One client runs one operation at a time, so the
    current operation id is process-wide: jobs and py4j calls made from the
    program's own worker threads still land on the operation that caused
    them. The span stack is per thread, for parents."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.py4j: dict[tuple, int] = {}
        self.hook_s = 0.0
        self.op_id: int | None = None
        self.phase = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            h0 = time.perf_counter()
            st = tracer._stack()
            with tracer._lock:
                sid = tracer._next
                tracer._next += 1
            span = {
                "id": sid,
                "name": name,
                "layer": layer,
                "parent": st[-1]["id"] if st else None,
                "op": tracer.op_id,
                "phase": tracer.phase,
                "thread": threading.get_ident(),
            }
            st.append(span)
            tracer.hook_s += time.perf_counter() - h0
            span["start"] = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.time()
                h1 = time.perf_counter()
                st.pop()
                with tracer._lock:
                    tracer.spans.append(span)
                tracer.hook_s += time.perf_counter() - h1

        traced.__perfbench_wrapped__ = True
        return traced

    def current_layer(self) -> str | None:
        st = getattr(self._local, "stack", None)
        return st[-1]["layer"] if st else None

    # -- installation --------------------------------------------------
    def install(self) -> None:
        """Wrap public functions and methods. Must run before
        ``registry`` imports the query modules."""
        for short in FUNCTION_LAYERS:
            mod = importlib.import_module(f"{PKG}.{short}")
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                setattr(mod, attr, self.wrap(short, attr, fn))
        from iceberg_insert_spark.sources.snapshots import core

        for cls in core.SnapshotTable.__mro__:
            layer = SNAPSHOT_LAYERS.get(cls.__name__)
            if layer is None:
                continue
            for attr, fn in list(vars(cls).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                setattr(cls, attr, self.wrap(layer, attr, fn))
        self._install_py4j()

    def _install_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            key = (tracer.op_id, tracer.current_layer(), tracer.phase)
            with tracer._lock:
                tracer.py4j[key] = tracer.py4j.get(key, 0) + 1
            return orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    # -- operations ----------------------------------------------------
    def begin_op(self, kind: str, layer: str) -> int:
        op = {"id": len(self.ops), "kind": kind, "layer": layer}
        self.ops.append(op)
        self.op_id = op["id"]
        self.phase = "op"
        op["start"] = time.time()
        return op["id"]

    def mark(self, field: str) -> None:
        self.ops[self.op_id][field] = time.time()

    def end_op(self) -> None:
        self.ops[self.op_id]["end"] = time.time()
        self.op_id = None
        self.phase = "check"

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"span": s}) + "\n")
            for o in self.ops:
                f.write(json.dumps({"op": o}) + "\n")


def read_event_log(path: str) -> list[dict]:
    """Jobs from a Spark event log: id, submit/end (epoch s), and the task
    time of their stages (sum over tasks of finish - launch)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "task_s": 0.0,
                    "tasks": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                info = ev["Task Info"]
                if jid is not None and info.get("Finish Time"):
                    jobs[jid]["task_s"] += (
                        info["Finish Time"] - info["Launch Time"]
                    ) / 1000.0
                    jobs[jid]["tasks"] += 1
    for j in jobs.values():
        if j["end"] is None:  # never finished: count it up to its submit
            j["end"] = j["submit"]
    return sorted(jobs.values(), key=lambda j: j["submit"])


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# Time the event log and Python's clock may disagree by: the log records
# milliseconds, so a job submitted in the op's first millisecond can read
# as up to 1 ms before the op's start.
SLACK_S = 0.002


def assign_jobs(jobs: list[dict], ops: list[dict], t_first_op: float) -> dict:
    """Give every job exactly one owner: the operation whose window holds
    its submission time, else set-up (before the first operation) or the
    check phase (between and after operations, where the benchmark reads
    results back to verify them)."""
    windows = sorted(
        (o["start"] - SLACK_S, o["end"] + SLACK_S, o["id"]) for o in ops
    )
    owner: dict[int, object] = {}
    for j in jobs:
        t = j["submit"]
        found = None
        for s, e, oid in windows:
            if s <= t <= e:
                found = oid
                break
        if found is None:
            found = "setup" if t < t_first_op else "check"
        owner[j["id"]] = found
    return owner


LAYER_MEASURES = (
    "build_s", "action_s", "jobs", "job_wall_s", "task_core_s", "no_job_s",
    "py4j_calls",
)
# Layers that do their work in set-up as well as in operations.
SETUP_LAYERS = ("session", "tables")
SNAPSHOT_KINDS = (
    "append", "merge_into", "delete_cow", "delete_mor", "delete_noop",
    "update", "read", "plan_files", "compact",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric name a traced run prints."""
    names = ["session.build_s", "session.py4j_calls", "tables.build_s",
             "tables.jobs", "tables.py4j_calls"]
    for layer in FUNCTION_LAYERS[2:] + list(SNAPSHOT_LAYERS.values()):
        names += [f"{layer}.{m}" for m in LAYER_MEASURES]
    for kind in SNAPSHOT_KINDS:
        names += [f"sources.snapshots.{kind}.build_s",
                  f"sources.snapshots.{kind}.jobs"]
    return names


def layer_metrics(tracer: Tracer, jobs: list[dict], rounds: int) -> dict:
    """Per-layer measures of one traced run. Operation-phase figures are
    per round; ``session`` and ``tables`` add their set-up work once.

    A job belongs to the innermost span (by time) of the operation that
    owns it, or to the operation's own layer when no engine function was
    running (the action). A layer's ``build_s`` counts only its outermost
    spans, so recursion inside one module is not counted twice."""
    ops = tracer.ops
    t_first = ops[0]["start"] if ops else float("inf")
    owner = assign_jobs(jobs, ops, t_first)
    by_id = {s["id"]: s for s in tracer.spans}
    counted = [
        s for s in tracer.spans
        if s["phase"] == "op"
        or (s["phase"] == "setup" and s["layer"] in SETUP_LAYERS)
    ]
    spans_of_op: dict = {}
    for s in counted:
        spans_of_op.setdefault(s["op"], []).append(s)

    def scale(phase: str) -> float:
        return 1.0 if phase == "setup" else 1.0 / max(rounds, 1)

    acc: dict[str, float] = {}

    def add(layer: str, measure: str, v: float) -> None:
        key = f"{layer}.{measure}"
        acc[key] = acc.get(key, 0.0) + v

    def outermost(s: dict) -> bool:
        p = s["parent"]
        while p is not None:
            ps = by_id.get(p)
            if ps is None:
                break
            if ps["layer"] == s["layer"]:
                return False
            p = ps["parent"]
        return True

    all_jobs = [(j["submit"], j["end"]) for j in jobs]
    windows: dict[str, list] = {}
    for s in counted:
        if outermost(s):
            add(s["layer"], "build_s", (s["end"] - s["start"]) * scale(s["phase"]))
            windows.setdefault(s["layer"], []).append(
                (s["start"], s["end"], scale(s["phase"])))
    for o in ops:
        add(o["layer"], "action_s", (o["end"] - o["built"]) * scale("op"))
        windows.setdefault(o["layer"], []).append(
            (o["built"], o["end"], scale("op")))
    for layer, ws in windows.items():
        idle = 0.0
        for s, e, k in ws:
            idle += k * ((e - s) - union_s(clip(all_jobs, s, e)))
        add(layer, "no_job_s", idle)

    job_iv: dict[str, list] = {}
    for j in jobs:
        o = owner[j["id"]]
        if isinstance(o, int):
            cands = [
                s for s in spans_of_op.get(o, [])
                if s["start"] - SLACK_S <= j["submit"] <= s["end"] + SLACK_S
            ]
            layer = (max(cands, key=lambda s: s["start"])["layer"]
                     if cands else ops[o]["layer"])
            k = scale("op")
        else:
            cands = [
                s for s in spans_of_op.get(None, [])
                if s["start"] - SLACK_S <= j["submit"] <= s["end"] + SLACK_S
            ]
            if o != "setup" or not cands:
                continue
            layer = max(cands, key=lambda s: s["start"])["layer"]
            k = scale("setup")
        add(layer, "jobs", k)
        add(layer, "task_core_s", k * j["task_s"])
        job_iv.setdefault(layer, []).append((j["submit"], j["end"], k))
    for layer, iv in job_iv.items():
        for k in set(x[2] for x in iv):
            add(layer, "job_wall_s",
                k * union_s([(s, e) for s, e, kk in iv if kk == k]))

    for (op, layer, phase), n in tracer.py4j.items():
        if phase == "op":
            add(layer or ops[op]["layer"], "py4j_calls", n * scale("op"))
        elif phase == "setup" and layer in SETUP_LAYERS:
            add(layer, "py4j_calls", n)

    for o in ops:
        if o["layer"].startswith("sources.snapshots"):
            add(f"sources.snapshots.{o['kind']}", "build_s",
                (o["built"] - o["start"]) * scale("op"))
    for j in jobs:
        o = owner[j["id"]]
        if isinstance(o, int) and ops[o]["layer"].startswith("sources.snapshots"):
            add(f"sources.snapshots.{ops[o]['kind']}", "jobs", scale("op"))

    counts = {"setup": 0, "op": 0, "check": 0}
    after_return = 0
    for j in jobs:
        o = owner[j["id"]]
        counts["op" if isinstance(o, int) else o] += 1
        if isinstance(o, int) and j["end"] > ops[o]["end"] + SLACK_S:
            after_return += 1
    out = {name: acc.get(name, 0.0) for name in per_layer_names()}
    out.update({
        "jobs.total": len(jobs),
        "jobs.setup": counts["setup"],
        "jobs.ops": counts["op"],
        "jobs.check": counts["check"],
        "jobs.after_return": after_return,
        "trace.hook_s": tracer.hook_s,
    })
    return out
