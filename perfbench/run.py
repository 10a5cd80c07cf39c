#!/usr/bin/env python3
"""The repository benchmark.

Runs one workload -- a list of `graft.SparkEntry.queries` entries -- in a
single `local[<nproc>]` Spark JVM driven by one closed-loop client, checks
every query's output against its DuckDB oracle, and prints the metrics:

  python3 perfbench/run.py --workload ordered_corpus --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run builds the library and the
harness with sbt (offline) into target/ and perfbench/target/; later runs
reuse the build while the sources are unchanged. Everything a run creates
lives under .perfbench/ and is removed when it ends, however it ends;
traced runs keep their spans in .perfbench/spans/.

The last stdout line is one JSON object: correct, attempted, failed and
metrics ({name: {value, unit}}): the end-to-end metrics with --trace 0,
the per-layer ones with --trace 1. The line before it gives the host
(cpus, heap, Spark and JDK versions, steal CPU-seconds), the quartiles
and sample counts behind each timing, and any failure by name.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402

WORKLOADS = {
    # batch per-row cost: conduino's ordered algebra (RowExec's
    # prefix-combine, carry and lookback exchanges, the typed fold sink)
    # over events enlarged 3x, and corpus queries whose per-row work is
    # the codegen'd text and hash expressions of graft.functions
    # (count_in_set in the quality gate, the KMV word hashes) next to the
    # packing carries, exact dedup and many short TF-IDF jobs
    "ordered_corpus": dict(tables=["events", "documents"], events=100_000, copies=3,
                           queries=["q_scan", "q_map_accum", "q_consecutive", "q_fold_map",
                                    "q_pipeline", "q_quality_filter", "q_kmv_sketch",
                                    "q_tfidf"]),
    # feedPipe through Structured Streaming at sf0.1 (each query feeds
    # its input in 2-3 micro-batches): fixed cost per micro-batch and per
    # query (transformWithState on RocksDB for scan and mapAccum,
    # watermarked dedup on HDFS-backed state)
    "stream_microbatch": dict(tables=["events", "documents"], events=100_000, copies=1,
                              queries=["q_scan_stream", "q_delta_stream", "q_dedup_stream"]),
}
END_TO_END = {"pass_s": "s", "cpu_s": "s", "rss_peak_mb": "MB", "setup_s": "s"}
HEAP = "4g"
# a cold set-up and a warm one: a third warm-up did not narrow the spread
# of pass times across runs, which host load dominates, and costs ~10 s
# a run
SETUPS = 2
YOUNG = "1g"
PASSES = 2  # timed passes at least, however long a pass takes
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 160  # seconds for the JVMs of one run, after the build
WORK = os.path.join(ROOT, ".perfbench")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class Interrupted(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def steal_ticks():
    """Cumulative steal ticks (USER_HZ) over all CPUs, as Bench.stealTicks."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def remove_stale_runs():
    """Remove the run directories of runs that did not get to clean up
    (a killed process), so that no run inherits another's files."""
    for d in glob.glob(os.path.join(WORK, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def require_checkout():
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} is missing; run from a full checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        raise SystemExit("perfbench: sbt and java must be on PATH")


# ---------- build ----------

def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/*.properties", "project/*.scala",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Compile the library and the harness unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(WORK, 'sbt')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log_path = os.path.join(WORK, "build.log")
    log("building (sbt writeClasspath)")
    t0 = time.time()
    with open(log_path, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: build failed (rc {rc})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return open(cp_file).read()


# ---------- child processes ----------

CHILDREN = []


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion; on timeout or interrupt stop it and wait."""
    p = subprocess.Popen(cmd, stderr=subprocess.STDOUT, start_new_session=True, **kw)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timeout after {timeout:.0f} s: {cmd[0]}")
        return -1
    finally:
        stop(p)
        CHILDREN.remove(p)


def stop(p):
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGTERM)
            p.wait(timeout=20)
        except (subprocess.TimeoutExpired, ProcessLookupError):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def jvm(classpath, run_dir, conf, timeout):
    """Run the harness; returns its records (JSON lines)."""
    # scratch (Spark local dirs, stream checkpoints, staged fixtures)
    # stays inside the checkout like every other file of the run
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, f"records-{conf['cpus']}.jsonl")
    conf = dict(conf, out=out)
    # a fixed heap and young generation, so that peak memory does not
    # depend on when G1 chose to grow the heap
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
            "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS
           + ["-cp", classpath, "perfbench.Harness"]
           + [f"{k}={v}" for k, v in conf.items()])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    with open(os.path.join(run_dir, f"jvm-{conf['cpus']}.log"), "w") as logf:
        rc = run_child(cmd, timeout=timeout, cwd=run_dir, env=env, stdout=logf)
    records = []
    if os.path.isfile(out):
        with open(out) as f:
            for line in f:
                try:
                    records.append(json.loads(line))
                except ValueError:
                    pass  # a line cut short by an interrupted JVM
    if rc != 0 or not any(r["k"] == "done" for r in records):
        with open(os.path.join(run_dir, f"jvm-{conf['cpus']}.log")) as f:
            tail = [ln for ln in f.readlines() if "ERROR" in ln or "Exception" in ln][-15:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"perfbench: harness failed (rc {rc})")
    return records


# ---------- correctness ----------

def load_comparator():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def oracle_one(q, sql, setup_dir):
    """Compare one query's output from the last set-up with its DuckDB
    oracle over the same input directory; None when they agree."""
    import duckdb
    import pandas as pd
    try:
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for path in sorted(glob.glob(os.path.join(setup_dir, "input", "*.parquet"))):
            name = os.path.basename(path)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        files = sorted(glob.glob(os.path.join(setup_dir, "dump", q, "*.parquet")))
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        diff = load_comparator()(q, spark_df, con.sql(sql).df())
    except Exception as e:  # a broken oracle or output is a failure too
        diff = f"{type(e).__name__}: {e}"
    return None if diff is None else str(diff)[:200]


def oracle_check(records, workers):
    """{query: mismatch} over every query of the run, checked in
    `workers` processes."""
    from concurrent.futures import ProcessPoolExecutor
    setup_dir = [r for r in records if r["k"] == "setup"][-1]["dir"]
    oracle = {r["q"]: r["sql"] for r in records if r["k"] == "oracle"}
    bad = {q: "no oracle SQL" for q, sql in oracle.items() if sql is None}
    todo = sorted(q for q, sql in oracle.items() if sql is not None)
    if len(todo) == 1:
        diff = oracle_one(todo[0], oracle[todo[0]], setup_dir)
        return dict(bad, **({todo[0]: diff} if diff else {}))
    pool = ProcessPoolExecutor(max_workers=workers)
    try:
        results = pool.map(oracle_one, todo, [oracle[q] for q in todo], [setup_dir] * len(todo))
        bad.update({q: d for q, d in zip(todo, results) if d is not None})
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    return bad


def digest_failures(records):
    """({query: reason}, failed executions) for queries that threw or
    whose digest differs from their first one."""
    bad, seen, n = {}, {}, 0
    for r in records:
        if r["k"] != "query":
            continue
        if r.get("err"):
            bad.setdefault(r["q"], "threw: " + r["err"][:160])
            n += 1
        elif seen.setdefault(r["q"], r["digest"]) != r["digest"]:
            bad.setdefault(r["q"], f"digest changed in {r['phase']} pass {r['pass']}")
            n += 1
    return bad, n


# ---------- metrics ----------

def setup_seconds(records):
    """Seconds of each set-up pass, the first with JVM and session start."""
    host = next(r for r in records if r["k"] == "host")
    out = [r["s"] for r in records if r["k"] == "setup"]
    if out:
        out[0] += host["jvm_to_session_s"]
    return out


def end_to_end(records):
    passes = [p for p in records if p["k"] == "pass" and p["phase"] == "timed"]
    rss = next(r["peak_mb"] for r in records if r["k"] == "rss")
    values = {"pass_s": stats.median([p["s"] for p in passes]),
              "cpu_s": stats.median([p["cpu_s"] for p in passes]),
              "rss_peak_mb": rss,
              "setup_s": next(r["since_jvm_start_s"] for r in records if r["k"] == "ready")}
    detail = {"pass_s": stats.describe([p["s"] for p in passes]),
              "cpu_s": stats.describe([p["cpu_s"] for p in passes]),
              "setups_s": [round(x, 3) for x in setup_seconds(records)]}
    return {k: stats.metric(v, END_TO_END[k]) for k, v in values.items()}, detail


def per_layer_units(name):
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name == "exec.slot_util":
        return "ratio"
    if name == "exec.speedup_vs_1cpu":
        return "x"
    return "count"


def all_queries():
    return sorted({q for w in WORKLOADS.values() for q in w["queries"]})


def per_layer_names():
    """Every per-layer metric, in BENCHMARK.json order."""
    names = []
    for layer in trace.STAGE_LAYERS:
        names += [f"{layer}.task_s", f"{layer}.stages"]
    names += ["sched.jobs", "sched.stages", "sched.tasks", "exec.task_s", "exec.cpu_s",
              "exec.gc_s", "exec.slot_util", "exec.speedup_vs_1cpu", "driver.serial_s",
              "shuffle.read_mb", "shuffle.write_mb", "spill_mb", "codegen.compile_ms",
              "codegen.classes", "entry.call_s", "entry.force_s",
              "stream.batches", "stream.rows_in", "stream.add_batch_ms",
              "stream.get_batch_ms", "stream.planning_ms", "stream.wal_commit_ms",
              "stream.commit_offsets_ms", "stream.state_commit_ms", "stream.state_rows",
              "stream.state_mem_mb", "stream.lifecycle_s", "stream.batch_p50_ms",
              "stream.batch_tail_ms", "trace.overhead_s"]
    names += [f"q.{q}.s" for q in all_queries()]
    return names


# ---------- main ----------

def measure(args, classpath, run_dir):
    """Run the workload and check it; returns the host line and the
    result line."""
    t_start = time.time()
    wl = WORKLOADS[args.workload]
    base = os.path.join(run_dir, "base")
    gen.write(base, args.seed, wl["tables"], wl["events"], wl["copies"])
    steal0 = steal_ticks()
    n = cpus()
    conf = dict(queries=",".join(wl["queries"]), seed=args.seed, seconds=args.seconds,
                trace=args.trace, base=base, work=os.path.join(run_dir, "work"),
                cpus=n, setups=SETUPS, passes=PASSES)
    records = jvm(classpath, run_dir, conf, RUN_LIMIT_S - (time.time() - t_start))
    steal1 = steal_ticks()
    metrics, detail = end_to_end(records)
    if args.trace:
        # the single-threaded baseline: one cold set-up, then one pass
        one = jvm(classpath, run_dir, dict(conf, cpus=1, setups=1, seconds=0, passes=1, trace=0,
                                           work=os.path.join(run_dir, "work1")),
                  RUN_LIMIT_S - (time.time() - t_start))
        records += [dict(r, phase="local1") for r in one if r["k"] == "query"]
        pass1 = [p["s"] for p in one if p["k"] == "pass" and p["phase"] == "timed"]
        layer, run = trace.per_layer(records, trace.file_layers(
            os.path.join(ROOT, "src", "main", "scala")), n, all_queries())
        layer["exec.speedup_vs_1cpu"] = stats.median(pass1) / metrics["pass_s"]["value"]
        traced = [p["s"] for p in records if p["k"] == "pass" and p["phase"] == "traced"]
        layer["trace.overhead_s"] = stats.median(traced) - metrics["pass_s"]["value"]
        detail["spans"] = write_spans(trace.spans(run), args)
        metrics = {k: stats.metric(layer.get(k, 0.0), per_layer_units(k))
                   for k in per_layer_names()}
    # a digest that differs between passes, or at local[1], is a failure
    failures, failed = digest_failures(records)
    for q, err in oracle_check(records, n).items():
        failures.setdefault(q, "oracle: " + err)
        failed += 1
    # one operation per query execution, plus one oracle check per query
    attempted = sum(1 for r in records if r["k"] in ("query", "oracle"))
    host = next(r for r in records if r["k"] == "host")
    detail.update(workload=args.workload, seed=args.seed, trace=args.trace,
                  host={"cpus": n, "heap": HEAP, "xmx_mb": host["xmx_mb"],
                        "spark": host["spark"], "jdk": host["jdk"],
                        "steal_cpu_s": (steal1 - steal0) / 100.0
                        if steal0 >= 0 and steal1 >= 0 else None},
                  failed_ratio=failed / max(1, attempted), failures=failures)
    return (json.dumps(detail, separators=(",", ":")),
            stats.result_line(not failures, attempted, failed, metrics))


def write_spans(spans, args):
    """Keep a traced run's spans in .perfbench/spans/; returns the path."""
    spans_dir = os.path.join(WORK, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    return os.path.relpath(path, ROOT)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    require_checkout()

    def on_signal(signum, _frame):
        raise Interrupted(f"signal {signum}")
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        remove_stale_runs()
        classpath = build()
        lines = measure(args, classpath, run_dir)
    except Interrupted as e:
        log(f"interrupted ({e}); cleaned up")
        return 130
    finally:
        for p in list(CHILDREN):
            stop(p)
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines:
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
