#!/usr/bin/env python3
"""Caller-path benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py [--seed N] [--seconds S]    # every workload, untraced
                                                         # then traced, as a report

Run from the root of a checkout. Each call is what a caller gets:
`SparkEntry.queries(name)(spark, dir)` on a default `Graft.session(_, 4)`,
then every row collected to the calling thread. No prepared plans, no conf
overrides. Every result is checked against an order-insensitive
fingerprint of the DuckDB oracle's answer (a recorded fingerprint where the
query has no oracle). The last line of output is one JSON object: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer metrics.
A wrong or failed call makes the exit code 1; a benchmark that cannot run
exits 2 without printing a result.
"""
import argparse
import hashlib
import json
import os
import pathlib
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import measure  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
ROOT = build.ROOT
OUT = build.OUT

CORES = 4
HEAP = "3g"
# The window runs whole passes until --seconds have passed and at least this
# many calls were made, so that p75 always has ten samples beyond it.
TAIL_PERCENTILE = 75
MIN_SAMPLES = 40
JVM_TIMEOUT_S = 165
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


class Workload:
    def __init__(self, pattern, clients):
        self.pattern = re.compile(pattern)
        self.clients = clients


# Why each workload exists is recorded in BENCHMARK.json. Each takes every
# other builder of its family: a run must fit its cold pass, two warm-up
# passes and a window of whole passes into about a minute, and the full
# families (22 and 47 builders) only fit with the window still on the JIT
# warm-up slope, where runs disagreed by 15-30%.
WORKLOADS = {
    "tpch_small": Workload(r"^q\d*[13579]_", 1),        # q1, q3, ..., q21
    "sql_concurrent": Workload(r"^(dx|mr)\d*[02468]_", CORES),  # dx2 ... dx34, mr2 ... mr12
}
# Warm-up is a fixed number of whole passes, not "until the rate stops
# improving": passes still got faster at pass 5, so an adaptive stop lands on
# a different pass count from run to run and makes setup_s jump by a pass.
WARM_PASSES = 2


class BenchError(Exception):
    pass


def data_dir() -> pathlib.Path:
    """The sf0.1 tables, where the repo's TESTDATA.md says they are."""
    doc = ROOT / "TESTDATA.md"
    m = doc.exists() and re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text(), re.M)
    if not m:
        raise BenchError("TESTDATA.md names no sf0.1 directory")
    d = pathlib.Path(m.group(1))
    missing = [t for t in TABLES if not (d / f"{t}.parquet").is_file()]
    if missing:
        raise BenchError(f"{d} lacks {missing}")
    return d


def data_digest(d: pathlib.Path) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        h.update((d / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def jvm(classpath, args, cwd, log, timeout):
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    cmd = ["java", *build.JVM_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(classpath),
           "perfbench.PerfBench", *args]
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM exceeded {timeout}s; log: {log}")
    if code != 0:
        tail = pathlib.Path(log).read_text(errors="replace").splitlines()[-30:]
        raise BenchError(f"JVM exited {code}:\n" + "\n".join(tail))


def catalog(classpath) -> dict:
    """Query names and oracle SQL, as the program declares them."""
    path = OUT / "catalog.json"
    key = build.stamp()
    if path.exists():
        cat = json.loads(path.read_text())
        if cat.get("stamp") == key:
            return cat
    work = OUT / "work"
    work.mkdir(parents=True, exist_ok=True)
    jvm(classpath, ["catalog", str(path)], work, OUT / "catalog.log", 120)
    cat = json.loads(path.read_text())
    cat["stamp"] = key
    path.write_text(json.dumps(cat))
    return cat


def workload_names(cat, w: Workload):
    return [n for n in cat["names"] if w.pattern.search(n)]


def expected(cat, names, data: pathlib.Path) -> dict:
    """Expected fingerprint per name: DuckDB on the oracle SQL over the same
    parquet files, or the recorded one where there is no oracle. Cached by
    the SQL text and the data's checksum."""
    recorded = json.loads((HERE / "recorded.json").read_text())
    path = OUT / "expected.json"
    cache = json.loads(path.read_text()) if path.exists() else {}
    digest = data_digest(data)
    out, con = {}, None
    for n in names:
        sql = cat["oracle"].get(n)
        if sql is None:
            if n not in recorded:
                raise BenchError(f"{n} has neither oracle SQL nor a recorded fingerprint")
            out[n] = recorded[n]
            continue
        key = hashlib.sha256((digest + sql).encode()).hexdigest()
        if cache.get(n, {}).get("key") != key:
            if con is None:
                import duckdb
                con = duckdb.connect(config={"threads": CORES, "memory_limit": "3GB"})
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            rel = con.sql(sql)
            maps = {c for c, t in zip(rel.columns, rel.types) if str(t).upper().startswith("MAP(")}
            cache[n] = {"key": key, "fp": measure.fingerprint(rel.columns, rel.fetchall(), maps)}
        out[n] = cache[n]["fp"]
    if con is not None:
        con.close()
        path.write_text(json.dumps(cache, indent=1, sort_keys=True))
    return out


def measure_run(classpath, name, seed, seconds, trace) -> dict:
    """One JVM run of a workload; returns its result file, spans and
    launch time."""
    w = WORKLOADS[name]
    cat = catalog(classpath)
    names = workload_names(cat, w)
    data = data_dir()
    want = expected(cat, names, data)
    run_dir = OUT / "runs" / f"{name}-{seed}-{trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    (run_dir / "names.txt").write_text("\n".join(names) + "\n")
    args = ["run", f"data={data}", f"names={run_dir / 'names.txt'}", f"clients={w.clients}",
            f"seed={seed}", f"seconds={seconds}", f"trace={trace}",
            f"warm_passes={WARM_PASSES}", f"min_calls={MIN_SAMPLES}", f"cores={CORES}", f"out={run_dir}"]
    work = OUT / "work"
    work.mkdir(parents=True, exist_ok=True)
    launched = time.time()
    jvm(classpath, args, work, run_dir / "jvm.log", JVM_TIMEOUT_S)
    res = json.loads((run_dir / "result.json").read_text())
    res["launched_ms"] = launched * 1000
    res["want"] = want
    spans = run_dir / "spans.jsonl"
    res["spans"] = [json.loads(x) for x in spans.read_text().splitlines()] if spans.exists() else []
    return res


def check(res):
    """(attempted, failures) over every call, warm-up included."""
    failures = []
    for c in res["calls"]:
        if c["error"]:
            failures.append(f"{c['name']}: {c['error']}")
        elif c["fingerprint"] != res["want"][c["name"]]:
            failures.append(f"{c['name']}: fingerprint {c['fingerprint']} != {res['want'][c['name']]}")
    return len(res["calls"]), failures


def throughput(res) -> float:
    """Calls per second while every client had work: from the window's
    start until the call sequence ran out, counting a call still running
    then by the share of it that was done."""
    start, out = res["window_start_ms"], res["exhausted_ms"]
    done = 0.0
    for c in res["calls"]:
        if c["timed"] and c["t0"] < out:
            done += 1.0 if c["t2"] <= out else (out - c["t0"]) / (c["t2"] - c["t0"])
    return done / ((out - start) / 1000)


def end_to_end(res, failed):
    timed = [c for c in res["calls"] if c["timed"]]
    lat = [c["t2"] - c["t0"] for c in timed]
    if not measure.supported(len(lat), TAIL_PERCENTILE):
        raise BenchError(f"{len(lat)} timed calls leave fewer than 10 beyond p{TAIL_PERCENTILE}")
    m = {
        "setup_s": ((res["window_start_ms"] - res["launched_ms"]) / 1000, "s"),
        "qps": (throughput(res), "1/s"),
        "latency_p50_ms": (measure.percentile(lat, 50), "ms"),
        f"latency_p{TAIL_PERCENTILE}_ms": (measure.percentile(lat, TAIL_PERCENTILE), "ms"),
        "cpu_s_per_query": (res["cpu_s"] / len(timed), "s"),
        "peak_rss_mb": (res["rss_peak_mb"], "MB"),
    }
    extra = {"samples": len(timed), "failed_frac": failed / len(res["calls"])}
    if measure.supported(len(lat), 90):
        extra["latency_p90_ms"] = measure.percentile(lat, 90)
    return m, extra


def per_layer(res) -> dict:
    """Per-layer metrics of the timed window, summed per pass."""
    timed = {c["id"]: c for c in res["calls"] if c["timed"]}
    passes = res["passes"]
    spans = [s for s in res["spans"] if s["call"] in timed]
    by_call = {}
    for s in spans:
        by_call.setdefault(s["call"], []).append(s)

    sums = {}

    def add(k, v):
        sums[k] = sums.get(k, 0.0) + v

    for ss in by_call.values():
        for layer, ms in measure.self_times(ss).items():
            add(f"self.{layer}", ms)
        drain = next((s["start"], s["end"]) for s in ss if s["name"] == "exec.drain")
        jobs = [(s["start"], s["end"]) for s in ss if s["name"] == "scheduler.job"]
        add("exec.driver_ms", drain[1] - drain[0] - measure.overlap([drain], measure.union(jobs)))
        add("scheduler.jobs", len(jobs))
        add("scheduler.job_ms", sum(e - s for s, e in jobs))
        for s in ss:
            if s["name"].startswith("plans."):
                add(f"{s['name']}_ms", s["end"] - s["start"])
    for c in timed.values():
        add("call.latency_ms", c["t2"] - c["t0"])
        add("queries.build_ms", c["t1"] - c["t0"])
        add("exec.drain_ms", c["t2"] - c["t1"])
        if c["translate_us"] >= 0:
            add("sqlcompat.translate_us", c["translate_us"])
        for k, v in c["plan"].items():
            add(f"plan.{k}", v)
    for cid, t in res["tasks"].items():
        if int(cid) not in timed:
            continue
        for k, v in t.items():
            add(f"task.{k}", v)
    for st in res["stages"]:
        if st["call"] in timed:
            add("scheduler.stages", 1)
            if st["first_launch"] >= 0:
                add("scheduler.queue_ms", st["first_launch"] - st["submitted"])

    def g(k):
        return sums.get(k, 0.0) / passes

    drain_union = measure.length([(c["t1"], c["t2"]) for c in timed.values()])
    run_ms = sums.get("task.run_ms", 0.0)
    m = {
        "engine.session_ms": (res["session_end_ms"] - res["session_start_ms"], "ms"),
        "engine.warm_s": (sum(res["warm_pass_s"]), "s"),
        "sqlcompat.translate_us": (g("sqlcompat.translate_us"), "us"),
        "queries.build_ms": (g("queries.build_ms"), "ms"),
        "plans.analysis_ms": (g("plans.analysis_ms"), "ms"),
        "plans.optimization_ms": (g("plans.optimization_ms"), "ms"),
        "plans.planning_ms": (g("plans.planning_ms"), "ms"),
        "exec.drain_ms": (g("exec.drain_ms"), "ms"),
        "exec.driver_ms": (g("exec.driver_ms"), "ms"),
        "scheduler.jobs": (g("scheduler.jobs"), "count"),
        "scheduler.stages": (g("scheduler.stages"), "count"),
        "scheduler.tasks": (g("task.tasks"), "count"),
        "scheduler.job_ms": (g("scheduler.job_ms"), "ms"),
        "scheduler.delay_ms": (g("task.delay_ms"), "ms"),
        "scheduler.queue_ms": (g("scheduler.queue_ms"), "ms"),
        "executor.run_ms": (g("task.run_ms"), "ms"),
        "executor.cpu_ms": (g("task.cpu_ns") / 1e6, "ms"),
        "executor.gc_ms": (g("task.gc_ms"), "ms"),
        "executor.deser_ms": (g("task.deser_ms"), "ms"),
        "executor.busy_frac": (run_ms / (drain_union * res["cores"]) if drain_union else 0.0, "frac"),
        "executor.cpu_frac": (sums.get("task.cpu_ns", 0.0) / 1e6 / run_ms if run_ms else 0.0, "frac"),
        "scan.bytes": (g("task.scan_bytes"), "bytes"),
        "scan.rows": (g("task.scan_rows"), "count"),
        "scan.tasks": (g("task.scan_tasks"), "count"),
        "shuffle.write_bytes": (g("task.shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (g("task.shuffle_read_bytes"), "bytes"),
        "shuffle.write_ms": (g("task.shuffle_write_ns") / 1e6, "ms"),
        "shuffle.fetch_wait_ms": (g("task.fetch_wait_ms"), "ms"),
        "spill.bytes": (g("task.spill_bytes"), "bytes"),
        "sink.bytes": (g("task.sink_bytes"), "bytes"),
        "codegen.compiles": (res["codegen_compiles"] / passes, "count"),
        "codegen.compile_ms": (res["codegen_ms"] / passes, "ms"),
        "plan.shuffle_exchanges": (g("plan.shuffle_exchanges"), "count"),
        "plan.broadcast_exchanges": (g("plan.broadcast_exchanges"), "count"),
        "plan.reused_exchanges": (g("plan.reused_exchanges"), "count"),
        "plan.subqueries": (g("plan.subqueries"), "count"),
        "jvm.gc_ms": (res["gc_ms"] / passes, "ms"),
        "jvm.jit_ms": (res["jit_ms"] / passes, "ms"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "trace.qps": (throughput(res), "1/s"),
        "trace.latency_ms": (g("call.latency_ms"), "ms"),
        "trace.self_sum_ms": (sum(v for k, v in sums.items() if k.startswith("self.")) / passes, "ms"),
    }
    for layer in ("queries.build", "exec.drain", "plans.analysis", "plans.optimization",
                  "plans.planning", "scheduler.job"):
        m[f"self.{layer}_ms"] = (g(f"self.{layer}"), "ms")
    return m


def run_one(classpath, name, seed, seconds, trace):
    """Measure one workload; returns (result line, exit code, report lines)."""
    res = measure_run(classpath, name, seed, seconds, trace)
    attempted, failures = check(res)
    lines = [f"FAILED {f}" for f in failures]
    if trace:
        metrics = per_layer(res)
    else:
        metrics, extra = end_to_end(res, len(failures))
        lines += [f"{name} samples {extra['samples']} (timed calls, {res['passes']} passes)",
                  f"{name} failed_frac {extra['failed_frac']:.4f}"]
        if "latency_p90_ms" in extra:
            lines.append(f"{name} latency_p90_ms {extra['latency_p90_ms']:.3f} ms")
        else:
            lines.append(f"{name} latency_p90_ms n/a: {extra['samples']} samples leave fewer than 10 beyond p90")
    lines += [f"{name} {k} {v:.6g} {u}" for k, (v, u) in metrics.items()]
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return result, (1 if failures else 0), lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        classpath = build.build()
        if a.workload:
            result, code, lines = run_one(classpath, a.workload, a.seed, a.seconds, a.trace)
            print("\n".join(lines))
            print(json.dumps(result), flush=True)
            return code
        code = 0
        for name in WORKLOADS:
            plain, c0, l0 = run_one(classpath, name, a.seed, a.seconds, 0)
            traced, c1, l1 = run_one(classpath, name, a.seed, a.seconds, 1)
            overhead = plain["metrics"]["qps"]["value"] - traced["metrics"]["trace.qps"]["value"]
            print("\n".join(l0 + l1 + [f"{name} trace.overhead_qps {overhead:.6g} 1/s"]), flush=True)
            code = max(code, c0, c1)
        return code
    except (BenchError, build.BuildError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
