"""Self-test of the benchmark (not of the engine).

    python3 perfbench/run.py --selftest

Checks that
  * the ingest generator writes byte-identical trees and plans for the same
    seed and different ones for another seed;
  * the table generator is deterministic;
  * the output check works: a query's fingerprint matches expected.json,
    the same result with one row duplicated does not, and the run check
    counts that perturbed result as failed;
  * a JVM run's result file parses under a German default locale
    (decimal commas), so no number in it depends on the JVM locale.
Exits 0 when all hold.
"""
import hashlib
import json
import shutil
from pathlib import Path

import gen_ingest
import gen_tables
import run

QUERIES = ["q18_scrubbed_balances", "q27_route_rules"]


def digest(root):
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def expect(cond, what, failures):
    print(f"[selftest] {'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        failures.append(what)


def main(classpath, tables_dir):
    failures = []
    work = run.BUILD / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        gen_ingest.generate(work / "a", 7, 2)
        gen_ingest.generate(work / "b", 7, 2)
        gen_ingest.generate(work / "c", 8, 2)
        expect(digest(work / "a") == digest(work / "b"),
               "ingest generator: same seed, byte-identical trees and plan", failures)
        expect(digest(work / "a") != digest(work / "c"),
               "ingest generator: another seed, different trees and plan", failures)

        gen_tables.write(work / "t1", 0.001, 5)
        gen_tables.write(work / "t2", 0.001, 5)
        expect(digest(work / "t1") == digest(work / "t2"),
               "table generator: same seed, byte-identical parquet", failures)

        expected = json.loads(run.EXPECTED.read_text())["queries"]
        jvm = work / "jvm"
        jvm.mkdir()
        request = {"workload": "fingerprint", "trace": False, "cpus": 2, "setups": 1,
                   "tables": str(tables_dir), "warmup_queries": run.WARMUP_QUERIES[:1],
                   "run_dir": str(work), "ops": [{"name": q} for q in QUERIES]}
        result = run.run_jvm(classpath, request, jvm,
                             java_opts=("-Duser.language=de", "-Duser.country=DE"))
        expect(result["locale"] == "de_DE" and all(
            isinstance(s, float) for s in result["setup_s"]),
            "result parses under a de_DE default locale", failures)
        plain = [op for op in result["ops"] if op["kind"] == "query"]
        perturbed = [op for op in result["ops"] if op["kind"] == "perturbed"]
        expect(all(op["outcome"] == expected[op["name"]] for op in plain),
               "fingerprints match expected.json", failures)
        expect(all(op["outcome"] != expected[op["name"]] for op in perturbed),
               "a result with one row duplicated changes the fingerprint", failures)
        _, failed = run.check([expected[op["name"]] for op in perturbed],
                              [dict(op, index=i) for i, op in enumerate(perturbed)])
        expect(failed == len(perturbed), "the run check counts perturbed results as failed",
               failures)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"[selftest] {'passed' if not failures else f'{len(failures)} failed'}")
    return 1 if failures else 0
