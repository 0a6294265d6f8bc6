#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload <reports|ingest_api> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles src/main/scala and
perfbench/src with the Scala compiler shipped among the Spark jars that
build.sbt compiles against (its unmanagedBase, else $SPARK_HOME/jars) into
.bench_build/ (or $CARGO_TARGET_DIR) and generates the
query tables there; later runs reuse both while the sources are unchanged.

Workloads (one serial client, local[nproc / 2]); each run times a fixed number
of rounds of operations, set by --seconds (see ROUND_S):
  reports     SHORT report queries from 10 modules and the HEAVY tail. A
              first pass runs each query once through its output
              fingerprint; first-touch costs and the shared-artifact build
              land there, in the query that pays them (per-layer
              first_pass_ms and artifacts.*). Each timed round runs every
              query again, in a seeded order, through
              graft.Bench.runFullPlan: the steady state of a live session.
  ingest_api  seeded rounds of request_ingest, reorganize and update_status
              operations over generated upload trees (see gen_ingest.py),
              after a warm-up ingest.

The end-to-end metrics come from the timed operations: wall_s is one round,
each operation at its median over the rounds; latency_p50_ms is the median
of all timed operations; setup_s is the median of SETUPS set-ups (session
start plus warm-up; the first also pays JVM start). Every output is
checked: query fingerprints against perfbench/expected.json, ingest
acknowledgements against what the generator planted; a mismatch or an
exception counts in `failed`. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; --trace 1 reports the
per-layer metrics of a traced run of one round, plus trace.overhead_frac
against an untraced twin run of the same seed. Each run's artifact (every
operation's outcome, latency and error text, and the span tree when traced)
is written to .bench_build/artifacts/.

`--record` rewrites expected.json from the current engine; `--selftest`
runs the checks in perfbench/selftest.py.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def _spark_jars():
    """The jar directory build.sbt compiles against, else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) \
        if sbt.exists() else None
    return Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"


SPARK_JARS = _spark_jars()
EXPECTED = HERE / "expected.json"

TABLE_SCALE, TABLE_SEED = 0.01, 42
SETUPS = 3
# Timed rounds: a run repeats its workload's round of operations
# --seconds / ROUND_S times, at least MIN_ROUNDS, so that every
# per-operation median discards the slowest round, most often the first,
# which still runs code the JIT has not compiled; ROUND_S is a round's time
# on a 4-core host. The work is fixed by --seconds, not by how fast the
# host runs it.
ROUND_S = {"reports": 6.0, "ingest_api": 14.0}
MIN_ROUNDS = 3
# Spark task threads (local[CPUS]): half the cores. The engine loads 60-150
# new classes per ingest request, so JIT compiler threads are busy through
# most of every operation; with a task thread per core the threads
# oversubscribed the cores, and six ingest_api runs of one seed ranged from
# 10.2 to 14.8 s in wall_s on 4 cores.
CPUS = max(1, (os.cpu_count() or 1) // 2)
RUN_DEADLINE_S = 170
# outside the timed pool: first-touch paths of a report and a text query
WARMUP_QUERIES = ["q02_status_counts", "q21_token_stats"]

# The cheapest query (at this scale) of each of 10 modules that is under
# 1 s in the r14 bench, no shared-artifact consumer and no media codec ...
SHORT = [
    "q18_scrubbed_balances", "q72_repetition", "q83_chunk_overlap",
    "q268_forecast_revenue", "q26_latest_status", "q337_mcnemar",
    "q53_winnow_stats", "q338_cochran_q", "q27_route_rules", "q51_survey_report",
]
# ... plus a heavy tail: q296's eager construction jobs and checkpoint cuts,
# and q216, which builds the shared PPJoin truth table in its first run
HEAVY = ["q296_dbscan", "q216_ppjoin_exact"]
WORKLOADS = ("reports", "ingest_api")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _scala_sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise BenchError("no engine sources under src/main/scala; run from the repository root")
    return main, sorted((HERE / "src").glob("*.scala"))


def _scalac(out, classpath, sources):
    out.mkdir(parents=True)
    args = out.parent / f"{out.name}.args"
    args.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath,
           f"@{args}"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    if p.returncode != 0:
        raise BenchError(f"scalac failed for {out.name}:\n{p.stdout[-4000:]}")


def build():
    """Compiles engine and benchmark once per source digest; returns the classpath."""
    main, bench = _scala_sources()
    if not any(SPARK_JARS.glob("spark-core_*.jar")):
        raise BenchError(f"Spark jars not found under {SPARK_JARS}")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if not (out / "ok").exists():
        shutil.rmtree(out, ignore_errors=True)
        for old in BUILD.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        t0 = time.time()
        _scalac(out / "main", f"{SPARK_JARS}/*", main)
        _scalac(out / "bench", f"{out / 'main'}:{SPARK_JARS}/*", bench)
        (out / "ok").write_text("")
        log(f"compiled in {time.time() - t0:.1f} s")
    return f"{out / 'bench'}:{out / 'main'}:{SPARK_JARS}/*"


def tables():
    """The query tables, generated once per checkout (fixed scale and seed)."""
    out = BUILD / f"tables-{TABLE_SCALE}-{TABLE_SEED}"
    if not (out / "ok").exists():
        sys.path.insert(0, str(HERE))
        import gen_tables
        shutil.rmtree(out, ignore_errors=True)
        gen_tables.write(out, TABLE_SCALE, TABLE_SEED)
        (out / "ok").write_text("")
    return out


# -------------------------------------------------------------------- run

def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return f[7], sum(f[:8])


def run_jvm(classpath, request, jvm_dir, java_opts=(), deadline=None):
    """Runs perfbench.PerfRun in one JVM on `request`, with its files,
    warehouse and temp space under `jvm_dir`, killing it at `deadline`
    (default RUN_DEADLINE_S from now); returns its parsed result."""
    timeout = (deadline or time.time() + RUN_DEADLINE_S) - time.time()
    req_file, res_file = jvm_dir / "request.json", jvm_dir / "result.json"
    res_file.unlink(missing_ok=True)
    req_file.write_text(json.dumps(request))
    tmp = jvm_dir / "tmp"
    tmp.mkdir(exist_ok=True)
    # no hsperfdata file: the JVM would write it outside the checkout
    # a fixed heap: no resizing between runs
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.cleaner.periodicGC.interval=2min",
        f"-Dspark.sql.warehouse.dir={jvm_dir / 'warehouse'}",
        f"-Dspark.local.dir={tmp}",
        f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.level=WARN",
        *java_opts,
        "-cp", classpath, "perfbench.PerfRun", str(req_file), str(res_file),
    ]
    steal0, total0 = cpu_ticks()
    with open(jvm_dir / "jvm.log", "ab") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=jvm_dir)
        try:
            rc = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM run passed the {RUN_DEADLINE_S} s deadline")
        except BaseException:
            # interrupted or terminated: the JVM must not outlive this run
            proc.kill()
            proc.wait()
            raise
    if rc != 0 or not res_file.exists():
        tail = (jvm_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise BenchError(f"JVM run exited {rc}:\n{tail}")
    result = json.loads(res_file.read_text())
    steal1, total1 = cpu_ticks()
    result["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    return result


def make_request(workload, seed, seconds, run_dir, tables_dir, trace):
    rng = random.Random(seed)
    # a traced run and its twin time one round, so the layer metrics cover
    # one pass
    n_rounds = 1 if trace else max(MIN_ROUNDS, round(seconds / ROUND_S[workload]))
    # a traced run reports no setup_s, so it sets up once
    req = {"workload": workload, "trace": trace, "cpus": CPUS,
           "setups": 1 if trace else SETUPS, "tables": str(tables_dir),
           "warmup_queries": WARMUP_QUERIES, "run_dir": str(run_dir)}
    if workload == "reports":
        expected = json.loads(EXPECTED.read_text())["queries"]
        first = list(SHORT)
        rng.shuffle(first)
        req["ops"] = [{"name": n, "expect": expected[n]} for n in first + HEAVY]
        rounds = [[{"name": n, "key": n, "expect": "ok"}
                   for n in rng.sample(SHORT + HEAVY, len(SHORT + HEAVY))]
                  for _ in range(n_rounds)]
    else:
        sys.path.insert(0, str(HERE))
        import gen_ingest
        plan = gen_ingest.generate(run_dir, seed, n_rounds)
        rounds = [[dict(op, name=op["op"], key=k) for k, op in enumerate(r)]
                  for r in plan["rounds"]]
        req.update(ops=[], initial_status=plan["initial_status"],
                   base=str(run_dir), status_store=str(run_dir / "status_store"))
    req["rounds"] = rounds
    return req


def expected_outcomes(request, result):
    """The outcome each operation of `result` must have: a fingerprint in
    the first pass, "ok" in a timed round, an acknowledgement for ingest.
    Raises if the JVM ran other operations than the request asked for."""
    planned = planned_ops(request)
    names = [op["name"] for op in planned]
    got = [op["name"] for op in result["ops"]]
    if got != names:
        raise BenchError(f"JVM run returned operations {got}, expected {names}")
    return [op["expect"] for op in planned]


def planned_ops(request):
    """The request's operations in run order: the first pass, then the
    timed rounds."""
    return request["ops"] + [op for r in request["rounds"] for op in r]


def check(expects, ops):
    """(attempted, failed): an operation fails if it threw or its outcome
    differs from the expected one."""
    if len(ops) != len(expects):
        raise BenchError(f"JVM run returned {len(ops)} of {len(expects)} operations")
    failed = 0
    for want, got in zip(expects, ops):
        if got["error"] is not None or got["outcome"] != want:
            failed += 1
            log(f"FAILED op {got['index']} {got['name']}: expected {want!r}, "
                f"got {got['outcome']!r} {got['error'] or ''}")
    return len(ops), failed


def timed_latencies(result):
    return [op["latency_ms"] for op in result["ops"] if op["pass"] == "timed"]


def end_to_end(request, result):
    return {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "wall_s": (wall_s(request, result), "s"),
        "latency_p50_ms": (statistics.median(timed_latencies(result)), "ms"),
    }


def wall_s(request, result):
    """One pass over the timed operations: the sum, over the operations of
    a round, of each one's median latency across the run's rounds."""
    by_op = {}
    for want, got in zip(planned_ops(request), result["ops"]):
        if got["pass"] == "timed":
            by_op.setdefault(want["key"], []).append(got["latency_ms"])
    return sum(statistics.median(v) for v in by_op.values()) / 1e3


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # sets the number of timed rounds (see ROUND_S)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="rewrite expected.json")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's self-test")
    args = ap.parse_args(argv)
    try:
        classpath = build()
        tables_dir = tables()
        if args.record:
            return record(classpath, tables_dir)
        if args.selftest:
            sys.path.insert(0, str(HERE))
            import selftest
            return selftest.main(classpath, tables_dir)
        if not args.workload:
            ap.error("--workload is required")
        return bench(args, classpath, tables_dir)
    except BenchError as e:
        log(f"error: {e}")
        return 2


def bench(args, classpath, tables_dir):
    run_dir = _fresh(BUILD / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    try:
        request = make_request(args.workload, args.seed, args.seconds, run_dir, tables_dir,
                               args.trace == 1)
        t0 = time.time()
        deadline = t0 + RUN_DEADLINE_S
        results = []
        if args.trace:
            # an untraced twin of the same seed gives trace.overhead_frac its base
            results.append(run_jvm(classpath, dict(request, trace=False),
                                   _fresh(run_dir / "untraced"), deadline=deadline))
        results.append(run_jvm(classpath, request, _fresh(run_dir / "jvm"), deadline=deadline))
        result = results[-1]
        timed_s = sum(timed_latencies(result)) / 1e3
        if timed_s > 3 * args.seconds:
            log(f"warning: timed operations took {timed_s:.1f} s for --seconds {args.seconds}")
        attempted = failed = 0
        for r in results:
            a, f = check(expected_outcomes(request, r), r["ops"])
            attempted, failed = attempted + a, failed + f
        if args.trace:
            layers = dict(result["layers"])
            layers["trace.overhead_frac"] = \
                wall_s(request, result) / wall_s(request, results[0]) - 1
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(request, result).items()}
        artifact = BUILD / "artifacts" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        artifact.parent.mkdir(parents=True, exist_ok=True)
        artifact.write_text(json.dumps({"request": request, "results": results,
                                        "metrics": metrics}, indent=1))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _fresh(p):
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True)
    return p


UNITS = {"_ms": "ms", "_bytes": "bytes", "_frac": "fraction", "_mb": "MB"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def record(classpath, tables_dir):
    """Fingerprints every pool query once and rewrites expected.json."""
    run_dir = _fresh(BUILD / "runs" / "record")
    names = sorted(SHORT + HEAVY)
    req = {"workload": "fingerprint", "trace": False, "cpus": CPUS, "setups": 1,
           "tables": str(tables_dir), "warmup_queries": WARMUP_QUERIES, "run_dir": str(run_dir),
           "ops": [{"name": n} for n in names]}
    result = run_jvm(classpath, req, run_dir)
    fps = {op["name"]: op["outcome"] for op in result["ops"] if op["kind"] == "query"}
    EXPECTED.write_text(json.dumps({"tables": {"scale": TABLE_SCALE, "seed": TABLE_SEED},
                                    "queries": fps}, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"recorded {len(fps)} fingerprints")
    return 0


if __name__ == "__main__":
    # SIGTERM unwinds like Ctrl-C, so a running JVM is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
