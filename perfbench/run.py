#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one run, one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload catalog_etl --seed 1 --seconds 20 --trace 0

The first run builds the program and the harness with sbt (``perfbench/build.sbt``
depends on the program's own build) and reuses the build while no source
changes. Each run then starts one JVM (``perfbench.Harness``) that builds the
session as ``graft.Bench`` does, runs every query of the workload once and
writes its result (the set-up pass), then times closed-loop passes over the
queries for ``--seconds`` seconds, in an order drawn from ``--seed``. This
script checks the set-up results against DuckDB with ``tools/check.py``'s
canonical hash, and every timed execution against the checked row count.

The last line of stdout is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer ones with ``--trace 1``). The line before it holds the resolved
session settings and input description. Everything generated goes under
``.bench_build/perfbench`` in the checkout. See ``perfbench/README.md``.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SPEC = os.path.join(HERE, "workloads.json")

# The program this benchmark measures; without it there is nothing to run.
PROGRAM = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"]
# Seconds a run may take, and a run that first has to build.
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
# Timed passes skipped, then timed passes measured for the end-to-end
# metrics; the harness runs at least that many even when --seconds runs out
# first. A traced run makes two blocks of four passes (T U U T) and takes its
# per-layer values from the passes past the first three, so that traced and
# untraced passes past the skipped ones balance.
STEADY_FROM = 2
STEADY_PASSES = 4
TRACED_PASSES = 8
TRACED_FROM = 3
# Per query, busy + idle must equal the wall within this much (listener
# timestamps are whole milliseconds).
LEDGER_TOL_MS = 5.0
LEDGER_TOL_SHARE = 0.01

E2E = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "cpu_s": "s",
       "ok_ratio": "ratio"}
# Per-layer metrics summed over the queries of a traced pass, then the
# median over traced passes.
SUMMED = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "codegen.compile_s": "s", "codegen.classes": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_failures": "count",
    "scheduler.busy_s": "s", "scheduler.idle_s": "s", "scheduler.overlap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "exchange.shuffle_write_bytes": "bytes", "exchange.shuffle_read_bytes": "bytes",
    "exchange.spill_bytes": "bytes", "exchange.exchanges": "count",
    "exchange.broadcasts": "count",
    "scan.input_bytes": "bytes", "scan.input_records": "count",
    "cache.release_s": "s", "result.rows": "count",
}
PER_LAYER = dict(SUMMED, **{
    "session.build_s": "s", "session.warmup_s": "s",
    "session.shuffle_partitions": "count", "codegen.setup_classes": "count",
    "executor.task_skew": "ratio", "exchange.bytes_per_input_byte": "ratio",
    "scheduler.ledger_max_err_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s",
    "jvm.peak_rss_mb": "MB", "jvm.heap_committed_mb": "MB",
})


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sha256_tree(paths, skip_dirs=()):
    """Checksum over relative paths and contents of every regular file under
    `paths`, not descending into directories named in `skip_dirs`."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        full = os.path.join(ROOT, p)
        if os.path.isfile(full):
            files.append(full)
        for dirpath, dirnames, filenames in os.walk(full):
            dirnames[:] = sorted(d for d in dirnames if d not in skip_dirs)
            files.extend(os.path.join(dirpath, f) for f in filenames)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_logged(cmd, cwd, env, log_path, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout:.0f}s; see {log_path}")


def tail(path, n=30):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def build():
    """Compile program and harness once per source state.

    Returns the JVM classpath, the program's JVM options and whether this
    call had to build."""
    stamp = sha256_tree(["build.sbt", "project", "src/main", "perfbench/build.sbt",
                         "perfbench/project", "perfbench/src"],
                        skip_dirs=("target", "project"))
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_path = os.path.join(WORK, "build.stamp")
    built = (os.path.exists(launch) and os.path.exists(stamp_path)
             and open(stamp_path).read() == stamp)
    if not built:
        env = dict(os.environ, COURSIER_MODE="offline")
        env.pop("SPARK_GRAFT_JVM_OPTS", None)
        env.pop("SPARK_DRIVER_MEM", None)  # keep the program's default heap
        # offline, and sbt's own temp, lock and ivy files (server socket
        # included) inside the checkout
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                           " -Dsbt.boot.lock=false"
                           f" -Dsbt.ivy.home={os.path.join(WORK, 'ivy')}"
                           f" -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
                           f" -Djna.tmpdir={os.path.join(WORK, 'tmp')}").strip()
        # sbt binds a unix socket under $XDG_RUNTIME_DIR, else under the temp
        # directory; a socket path is limited to 108 bytes, which a deep
        # checkout exceeds, so give it as a short path relative to sbt's
        # working directory
        sock = os.path.join(WORK, "sock")
        os.makedirs(sock, exist_ok=True)
        env["XDG_RUNTIME_DIR"] = os.path.relpath(sock, HERE)
        # every JVM the sbt script starts, its Java version probe included
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
        log_path = os.path.join(WORK, "build.log")
        t0 = time.monotonic()
        rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                        HERE, env, log_path, FIRST_RUN_LIMIT_S - RUN_LIMIT_S)
        if rc != 0:
            raise BenchError(f"build failed (exit {rc}):\n{tail(log_path)}")
        with open(stamp_path, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.monotonic() - t0:.1f}s")
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:], not built


def java_cmd(classpath, options, main, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The program's own options (heap included) first. Temp files, shuffle
    # files and logs stay inside the checkout, and the JVM writes no
    # performance-counter file to the system temp directory.
    return (["java", *options, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}",
             f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
             "-cp", classpath, main, *args])


def jvm_env():
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["LANG"] = "C.UTF-8"
    return env


def dir_checksum(d):
    return sha256_tree([os.path.relpath(d, ROOT)])


def parquet_bytes(d):
    total = 0
    for dirpath, _, filenames in os.walk(d):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in filenames if f.endswith(".parquet"))
    return total


def load_check_module():
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def parquet_glob(path):
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def check_results(result, input_dir, input_sum):
    """Check the set-up pass's results against the DuckDB oracle and every
    timed execution against the checked row count. A query whose set-up
    result is wrong fails in every timed execution too: each runs the same
    plan on the same input. Returns one message per failed execution."""
    import duckdb
    check = load_check_module()
    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet_glob(p)}')")
    cache_dir = os.path.join(WORK, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    timed = {}
    for p in result["passes"]:
        for q in p["queries"]:
            timed.setdefault(q["name"], []).append(dict(q, **{"pass": p["pass"]}))
    failures = []
    for c in result["checks"]:
        name = c["name"]
        got = check.canon(con.execute(
            f"SELECT * FROM read_parquet('{parquet_glob(c['path'])}')").fetchdf())
        sql = result["oracle_sql"].get(name)
        wrong = None
        if sql is None:
            wrong = "no oracle SQL to check the result against"
        else:
            key = hashlib.sha256((input_sum + "\0" + sql).encode()).hexdigest()
            cache = os.path.join(cache_dir, key + ".json")
            if os.path.exists(cache):
                exp = json.load(open(cache))
            else:
                e = check.canon(con.execute(sql).fetchdf())
                exp = {"rows": len(e), "cols": list(e.columns), "hash": check.table_hash(e)}
                with open(cache, "w") as fh:
                    json.dump(exp, fh)
            if list(got.columns) != exp["cols"] or len(got) != exp["rows"]:
                wrong = (f"{len(got)} rows {list(got.columns)}, "
                         f"oracle {exp['rows']} rows {exp['cols']}")
            elif check.table_hash(got) != exp["hash"]:
                wrong = "result hash differs from the oracle"
        if wrong:
            failures.append(f"{name} set-up: {wrong}")
        for q in timed.get(name, []):
            where = f"{name} pass {q['pass']}"
            if q["error"] is not None:
                failures.append(f"{where}: {q['error']}")
            elif wrong:
                failures.append(f"{where}: same plan as the wrong set-up result")
            elif q["rows"] != len(got):
                failures.append(f"{where}: {q['rows']} rows, checked {len(got)}")
    return failures


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def steady(passes):
    """The timed passes the end-to-end metrics come from: a fixed window, so
    every run measures the same work. The JVM keeps compiling hot code
    through the first passes and each pass runs a little faster than the
    last; a window that moved with the pass count would make a slow host
    look slower still, as fewer passes would leave it on colder ones."""
    return passes[STEADY_FROM:STEADY_FROM + STEADY_PASSES]


def end_to_end(result, ok_ratio):
    passes = steady(result["passes"])
    return {
        "setup_s": result["setup_s"],
        "wall_s": median([p["wall_s"] for p in passes]),
        "query_p50_s": median([q["wall_s"] for p in passes for q in p["queries"]]),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "ok_ratio": ok_ratio,
    }


def per_layer(result):
    later = result["passes"][TRACED_FROM:]
    traced = [p for p in later if p["traced"]]
    plain = [p for p in later if not p["traced"]]
    sums = [{k: sum(q["layers"][k] for q in p["queries"]) for k in SUMMED} for p in traced]
    m = {k: median([s[k] for s in sums]) for k in SUMMED}
    # skew of the longest stage of the pass, median over traced passes
    m["executor.task_skew"] = median([
        max(p["queries"], key=lambda q: q["layers"]["executor.longest_stage_s"])
        ["layers"]["executor.task_skew"] for p in traced])
    m["exchange.bytes_per_input_byte"] = (
        m["exchange.shuffle_write_bytes"] / m["scan.input_bytes"]
        if m["scan.input_bytes"] else 0.0)
    m["scheduler.ledger_max_err_s"] = max(
        q["layers"]["scheduler.ledger_err_s"] for p in traced for q in p["queries"])
    m["session.build_s"] = result["session_build_s"]
    m["session.warmup_s"] = result["warmup_s"]
    m["codegen.setup_classes"] = float(result["setup_codegen"]["classes"])
    m["session.shuffle_partitions"] = float(
        result["settings"]["spark.sql.shuffle.partitions"])
    m["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    m["jvm.heap_committed_mb"] = max(p["heap_committed_mb"] for p in result["passes"])
    m["trace.wall_s"] = median([p["wall_s"] for p in traced])
    m["trace.overhead_s"] = m["trace.wall_s"] - median([p["wall_s"] for p in plain])
    return m


def ledger_violations(result):
    bad = []
    for p in result["passes"]:
        if not p["traced"]:
            continue
        for q in p["queries"]:
            err_ms = q["layers"]["scheduler.ledger_err_s"] * 1e3
            if err_ms > LEDGER_TOL_MS + LEDGER_TOL_SHARE * q["wall_s"] * 1e3:
                bad.append(f"{q['name']} pass {p['pass']}: busy + idle is off "
                           f"the {q['wall_s']:.3f}s wall by {err_ms:.1f}ms")
    return bad


def codegen_violations(result):
    """The set-up pass compiles every plan shape, so it must count compiles,
    and the log capture that times them must see each one CodegenMetrics
    counts; otherwise codegen.* would read 0 or short without an error."""
    c = result["setup_codegen"]
    bad = []
    if c["classes"] == 0:
        bad.append("the set-up pass counted no compiled class")
    seen = [(c["logged"], c["classes"], "set-up")] + [
        (q["layers"]["codegen.logged_classes"], q["layers"]["codegen.classes"],
         f"{q['name']} pass {p['pass']}")
        for p in result["passes"] if p["traced"] for q in p["queries"]]
    bad += [f"{where}: {logged} compiles logged, {n} counted by CodegenMetrics"
            for logged, n, where in seen if logged != n]
    return bad


def host_sample():
    """Seconds of a fixed single-thread job (best of three) and the host's
    /proc/stat CPU ticks, so a slow period on a shared host shows in the
    run's description."""
    buf = bytes(64 << 20)
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        hashlib.sha256(buf).digest()
        best = min(best, time.perf_counter() - t)
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return best, ticks


def host_summary(before, after):
    d = [b - a for a, b in zip(before[1], after[1])]
    return {"probe_s": [round(before[0], 5), round(after[0], 5)],
            "steal_share": round(d[7] / max(1, sum(d[:8])), 4),
            "loadavg_1m": os.getloadavg()[0]}


def span_summary(spans_path):
    """Self time and count per span name, in seconds."""
    out = {}
    with open(spans_path) as fh:
        for line in fh:
            s = json.loads(line)
            agg = out.setdefault(s["name"], {"count": 0, "dur_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["dur_s"] += s["dur_ms"] / 1e3
            agg["self_s"] += s["self_ms"] / 1e3
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise BenchError(f"no program to measure here: missing {', '.join(missing)}")
    spec_all = json.load(open(SPEC))
    if a.workload not in spec_all["workloads"]:
        raise BenchError(f"unknown workload {a.workload}; "
                         f"known: {', '.join(spec_all['workloads'])}")
    spec = spec_all["workloads"][a.workload]
    for d in ("jvm", "runs", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    classpath, options, built = build()
    deadline = started + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)
    input_dir = os.path.join(ROOT, spec["input"])
    input_sum = dir_checksum(input_dir)

    host0 = host_sample()
    out = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = [f"workload={a.workload}", f"input={input_dir}",
            f"queries={','.join(spec['queries'])}",
            # the harness seeds a 64-bit generator; any int names a seed
            f"seed={a.seed % 2**63}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"out={out}",
            f"min_passes={TRACED_PASSES if a.trace else STEADY_FROM + STEADY_PASSES}"]
    jvm_log = os.path.join(out, "jvm.log")
    rc = run_logged(java_cmd(classpath, options, "perfbench.Harness", args),
                    os.path.join(WORK, "jvm"), jvm_env(), jvm_log,
                    deadline - time.monotonic())
    if rc != 0:
        raise BenchError(f"harness exited {rc}:\n{tail(jvm_log)}")
    result = json.load(open(os.path.join(out, "result.json")))
    host = host_summary(host0, host_sample())

    failures = check_results(result, input_dir, input_sum)
    executions = sum(len(p["queries"]) for p in result["passes"]) + len(result["checks"])
    failed = len(failures)
    for f in failures:
        log(f"FAIL {f}")
    correct = not failures
    if a.trace:
        bad = ledger_violations(result)
        for b in bad:
            log(f"LEDGER {b}")
        cg = codegen_violations(result)
        for b in cg:
            log(f"CODEGEN {b}")
        bad += cg
        correct = correct and not bad
        values, units = per_layer(result), PER_LAYER
        summary = span_summary(os.path.join(out, "spans.jsonl"))
        log("span self time (s): " + ", ".join(
            f"{k} {v['self_s']:.3f}/{v['count']}" for k, v in sorted(summary.items())))
    else:
        values = end_to_end(result, 1.0 - failed / executions)
        units = E2E
    print(json.dumps({"perfbench": {
        "workload": a.workload, "seed": a.seed, "queries": spec["queries"],
        "input": spec["input"], "input_parquet_bytes": parquet_bytes(input_dir),
        "input_sha256": input_sum, "cpus": result["cpus"], "nproc": result["nproc"],
        "jvm_heap": " ".join(o for o in options if o.startswith(("-Xms", "-Xmx"))),
        "peak_rss_mb": result["peak_rss_mb"],
        "settings": result["settings"], "host": host,
        "passes": len(result["passes"]), "steady_passes": len(steady(result["passes"])),
        "out": os.path.relpath(out, ROOT)}}), flush=True)
    print(json.dumps({
        "correct": correct, "attempted": executions, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }), flush=True)


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)
