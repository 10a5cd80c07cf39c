"""Per-layer metrics and spans from a traced run's raw records.

The layers are the program's source modules:

  SparkEntry  the query registry and plan construction (SparkEntry.scala)
  core        graft/core: Pipes, Sources, Sinks, Compose, OrderedExec, ...
  operators   graft/operators: RowExec, ColOps, Dedup, TextOps, ...
  functions   graft/functions and the Column bridge: Catalyst expressions
  streaming   graft/streaming: StreamExec, Incremental, EventTime, ...
  spark       Spark's own work that none of the modules above called

A stage belongs to the innermost module frame of its call site; when the
call site holds none (the benchmark's own forcing action), to the module
that created one of the stage's RDDs; when the job ran on an async
thread (broadcasts, subqueries: CompletableFuture frames only), to the
call site of its SQL execution; otherwise to `spark`.
"""
import os
import re

from stats import describe, median

# the layers that own call sites: `functions` code runs inside its
# callers' stages and shows in codegen.*
STAGE_LAYERS = ["SparkEntry", "core", "operators", "streaming", "spark"]
PACKAGES = {"core", "operators", "functions", "streaming"}

_LONG_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(([\w$]+\.(?:scala|java)):\d+\)")
_SHORT_SITE = re.compile(r"\bat\s+([\w$]+\.(?:scala|java)):\d+")


def class_layer(cls):
    """Layer of a JVM class name, or None outside the program."""
    parts = cls.split(".")
    if parts[0] == "graft" and len(parts) > 2 and parts[1] in PACKAGES:
        return parts[1]
    if parts[:2] == ["graft", "SparkEntry"] or cls.startswith("graft.SparkEntry$"):
        return "SparkEntry"
    if parts[-1].startswith("GraftColumnBridge"):
        return "functions"
    return None


def file_layers(src_root):
    """Map each source file name under src/main/scala to its layer."""
    out = {}
    for dirpath, _, files in os.walk(src_root):
        rel = os.path.relpath(dirpath, src_root).split(os.sep)
        for f in files:
            if not f.endswith(".scala"):
                continue
            if rel[:1] == ["graft"] and len(rel) > 1 and rel[1] in PACKAGES:
                out[f] = rel[1]
            elif rel == ["graft"] and f == "SparkEntry.scala":
                out[f] = "SparkEntry"
            elif f.startswith("GraftColumnBridge"):
                out[f] = "functions"
    return out


def long_form_layer(details):
    """Innermost program frame of a long-form call site."""
    for line in (details or "").splitlines():
        m = _LONG_FRAME.match(line)
        if m:
            layer = class_layer(m.group(1))
            if layer:
                return layer
    return None


def is_async(details):
    return "CompletableFuture.java" in (details or "") or \
        "ThreadPoolExecutor.java" in (details or "")


def stage_layer(stage, files, sql_details=None):
    """Layer a completed stage is charged to (see the module docstring).
    `sql_details` is the long-form call site of the stage's SQL
    execution, used only for jobs that ran on an async thread."""
    layer = long_form_layer(stage.get("details"))
    if layer:
        return layer
    for site in reversed(stage.get("rdds") or []):
        m = _SHORT_SITE.search(site or "")
        if m and files.get(m.group(1)):
            return files[m.group(1)]
    if is_async(stage.get("details")) and sql_details:
        layer = long_form_layer(sql_details)
        if layer:
            return layer
    return "spark"


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Run:
    """Index over one run's records."""

    def __init__(self, records, files):
        by = {}
        for r in records:
            by.setdefault(r["k"], []).append(r)
        self.by = by
        self.passes = [p for p in by.get("pass", []) if p["phase"] == "traced"]
        self.sql = {s["id"]: s for s in by.get("sql", [])}
        for e in by.get("sql_end", []):
            if e["id"] in self.sql:
                self.sql[e["id"]]["t1"] = e["t1"]
        self.jobs = {j["id"]: j for j in by.get("job", [])}
        for e in by.get("job_end", []):
            if e["id"] in self.jobs:
                self.jobs[e["id"]]["t1"] = e["t1"]
        self.job_of_stage = {}
        for j in sorted(self.jobs.values(), key=lambda j: j["id"]):
            for s in j["stages"]:
                self.job_of_stage.setdefault(s, j)
        self.stages = by.get("stage", [])
        for s in self.stages:
            job = self.job_of_stage.get(s["id"])
            sql = self.sql.get(int(job["sql"])) if job and job.get("sql") else None
            s["layer"] = stage_layer(s, files, sql and sql.get("details"))
        self.tasks = by.get("task", [])
        self.streams = {q["id"]: q for q in by.get("sq_start", [])}
        for e in by.get("sq_end", []):
            if e["id"] in self.streams:
                self.streams[e["id"]]["t1"] = e["t1"]
        self.batches = by.get("batch", [])

    def in_pass(self, items, p, key="t0"):
        return [x for x in items if x.get(key) is not None and p["t0"] <= x[key] <= p["t1"]]


def per_layer(records, files, cpus, queries_all):
    """Every per-layer metric of one traced run, as {name: value}; values
    are per traced pass (medians over passes)."""
    run = Run(records, files)
    m = {}

    def per_pass(fn):
        return median([fn(p) for p in run.passes]) if run.passes else 0.0

    for layer in STAGE_LAYERS:
        m[f"{layer}.task_s"] = per_pass(lambda p: sum(
            s["run_ms"] for s in run.in_pass(run.stages, p) if s["layer"] == layer) / 1e3)
        m[f"{layer}.stages"] = per_pass(lambda p: sum(
            1 for s in run.in_pass(run.stages, p) if s["layer"] == layer))
    m["sched.jobs"] = per_pass(lambda p: len(run.in_pass(list(run.jobs.values()), p)))
    m["sched.stages"] = per_pass(lambda p: len(run.in_pass(run.stages, p)))
    m["sched.tasks"] = per_pass(lambda p: sum(s["tasks"] for s in run.in_pass(run.stages, p)))
    m["exec.task_s"] = per_pass(lambda p: sum(s["run_ms"] for s in run.in_pass(run.stages, p)) / 1e3)
    m["exec.cpu_s"] = per_pass(lambda p: sum(s["cpu_ns"] for s in run.in_pass(run.stages, p)) / 1e9)
    m["exec.gc_s"] = per_pass(lambda p: sum(s["gc_ms"] for s in run.in_pass(run.stages, p)) / 1e3)
    m["exec.slot_util"] = per_pass(lambda p: sum(
        s["run_ms"] for s in run.in_pass(run.stages, p)) / max(1.0, (p["t1"] - p["t0"]) * cpus))
    m["driver.serial_s"] = per_pass(lambda p: (p["t1"] - p["t0"] - covered(
        [(t["t0"], t["t1"]) for t in run.in_pass(run.tasks, p)], p["t0"], p["t1"])) / 1e3)
    m["shuffle.read_mb"] = per_pass(lambda p: sum(s["sh_read"] for s in run.in_pass(run.stages, p)) / 2**20)
    m["shuffle.write_mb"] = per_pass(lambda p: sum(s["sh_write"] for s in run.in_pass(run.stages, p)) / 2**20)
    m["spill_mb"] = per_pass(lambda p: sum(s["spill"] for s in run.in_pass(run.stages, p)) / 2**20)
    m["codegen.compile_ms"] = per_pass(lambda p: p["compile_ms"])
    m["codegen.classes"] = per_pass(lambda p: p["classes"])
    queries = [q for q in run.by.get("query", []) if q["phase"] == "traced"]
    m["entry.call_s"] = per_pass(lambda p: sum(q["call_s"] for q in queries if q["pass"] == p["pass"]))
    m["entry.force_s"] = per_pass(lambda p: sum(q["force_s"] for q in queries if q["pass"] == p["pass"]))

    def batches(p):
        return run.in_pass(run.batches, p, key="ts")
    phase_keys = {"add_batch_ms": "addBatch", "get_batch_ms": "getBatch",
                  "planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
                  "commit_offsets_ms": "commitOffsets"}
    m["stream.batches"] = per_pass(lambda p: len(batches(p)))
    m["stream.rows_in"] = per_pass(lambda p: sum(b["rows"] for b in batches(p)))
    for name, key in phase_keys.items():
        m[f"stream.{name}"] = per_pass(lambda p, key=key: sum(b["dur"].get(key, 0) for b in batches(p)))
    m["stream.state_commit_ms"] = per_pass(lambda p: sum(b["state_commit_ms"] for b in batches(p)))

    def by_query(p):
        out = {}
        for b in batches(p):
            out.setdefault(b["id"], []).append(b)
        return out.values()
    # state held at the end of each streaming query, and its peak memory
    m["stream.state_rows"] = per_pass(lambda p: sum(
        max(bs, key=lambda b: b["batch"])["state_rows"] for bs in by_query(p)))
    m["stream.state_mem_mb"] = per_pass(lambda p: sum(
        max(b["state_mem"] for b in bs) for bs in by_query(p)) / 2**20)

    def lifecycle(p):
        """Time inside the calls of streaming queries outside their
        micro-batches: query start and stop, feeding, sink read-back."""
        total = 0.0
        for q in (q for q in queries if q["pass"] == p["pass"]):
            inside = [b for b in batches(p) if q["t0"] <= b["ts"] <= q["t1"]]
            if inside:
                total += q["call_s"] - sum(b["dur"].get("triggerExecution", 0) for b in inside) / 1e3
        return total
    m["stream.lifecycle_s"] = per_pass(lifecycle)
    trig = [b["dur"].get("triggerExecution", 0) for p in run.passes for b in batches(p)]
    d = describe(trig) if trig else {"median": 0.0, "tail": None}
    m["stream.batch_p50_ms"] = d["median"]
    m["stream.batch_tail_ms"] = d["tail"] or (max(trig) if trig else 0.0)

    timed = [q for q in run.by.get("query", []) if q["phase"] == "timed" and not q.get("err")]
    for q in queries_all:
        m[f"q.{q}.s"] = median([x["call_s"] + x["force_s"] for x in timed if x["q"] == q])
    return m, run


def spans(run):
    """The run's spans: pass -> query -> call/force -> SQL execution ->
    job -> stage, and stream query -> micro-batch -> phase, each with an
    id, a parent id, start and end in epoch ms, and its self time (its
    duration less the part its children cover)."""
    out = []

    def add(kind, name, t0, t1, parent, **kw):
        sid = len(out) + 1
        out.append(dict(id=sid, parent=parent, kind=kind, name=name, t0=t0, t1=t1, **kw))
        return sid

    queries = [q for q in run.by.get("query", []) if q["phase"] == "traced"]
    root = add("run", "traced", min((p["t0"] for p in run.passes), default=0),
               max((p["t1"] for p in run.passes), default=0), None)
    placed_jobs = set()
    for p in run.passes:
        pid = add("pass", str(p["pass"]), p["t0"], p["t1"], root)
        for q in [q for q in queries if q["pass"] == p["pass"]]:
            qid = add("query", q["q"], q["t0"], q["t1"], pid)
            split = q["t0"] + q["call_s"] * 1e3
            cid = add("call", q["q"], q["t0"], split, qid)
            fid = add("force", q["q"], split, q["t1"], qid)

            def parent(t):
                return cid if t < split else fid
            for s in run.sql.values():
                if q["t0"] <= s["t0"] <= q["t1"]:
                    xid = add("sql", str(s["id"]), s["t0"], s.get("t1", s["t0"]), parent(s["t0"]))
                    for j in run.jobs.values():
                        if j.get("sql") is not None and int(j["sql"]) == s["id"]:
                            placed_jobs.add(j["id"])
                            _job_span(add, run, j, xid)
            for j in run.jobs.values():
                if j["id"] not in placed_jobs and q["t0"] <= j["t0"] <= q["t1"]:
                    placed_jobs.add(j["id"])
                    _job_span(add, run, j, parent(j["t0"]))
            for sq in run.streams.values():
                if q["t0"] <= sq["t0"] <= q["t1"]:
                    sqid = add("stream_query", sq["id"], sq["t0"], sq.get("t1", sq["t0"]),
                               parent(sq["t0"]))
                    for b in run.batches:
                        if b["id"] == sq["id"]:
                            trig = b["dur"].get("triggerExecution", 0)
                            bid = add("batch", str(b["batch"]), b["ts"], b["ts"] + trig, sqid)
                            at = b["ts"]
                            # durationMs gives lengths only: phases are laid
                            # out one after another from the batch start
                            for k, v in b["dur"].items():
                                if k != "triggerExecution":
                                    add("phase", k, at, at + v, bid, laid_out=True)
                                    at += v
    children = {}
    for s in out:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    for s in out:
        s["self_ms"] = (s["t1"] - s["t0"]) - covered(children.get(s["id"], []), s["t0"], s["t1"])
    return out


def _job_span(add, run, job, parent):
    jid = add("job", str(job["id"]), job["t0"], job.get("t1", job["t0"]), parent)
    for s in run.stages:
        if s["id"] in job["stages"] and run.job_of_stage.get(s["id"]) is job:
            add("stage", s["name"], s.get("t0") or job["t0"], s.get("t1") or job["t0"], jid,
                layer=s["layer"], run_ms=s["run_ms"], tasks=s["tasks"])
