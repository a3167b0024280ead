"""Benchmark entry point.

    python3 perfbench/run.py --workload er_bulk --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Builds the library and the benchmark (perfbench/build.py), runs one workload
in a fresh JVM, checks the outputs (including DuckDB parity for the ER
workloads), prints the full report as one JSON line and then, as the last
line, the result: `{"correct", "attempted", "failed", "metrics"}` with the
end-to-end metrics of BENCHMARK.json (`--trace 0`) or its per-layer metrics
(`--trace 1`). See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
# one run must end within 180 s; er_dense is not in BENCHMARK.json and its
# traced run alone takes ~2.5 min on 4 cores
JVM_TIMEOUT_S = {"er_dense": 600}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
REPORT_COLS = ["row_order", "original_name", "normalized_name", "base_name", "cluster_id",
               "cluster_size", "canonical_name", "confidence", "reason"]


def java(main, args, work, classpath, timeout=170):
    """Run a JVM main with Spark's module flags; everything it prints goes
    to stderr so that stdout carries only the benchmark's own lines."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), main] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: JVM timed out", file=sys.stderr)
        return 124


def parity(work):
    """DuckDB twin on the deterministic input slice: the oracle SQL
    (graft.oracle.Sql.dedupPipelineCte) must reproduce the Spark reports of
    the same slice exactly. Returns a problem string, or None."""
    import duckdb
    pdir = os.path.join(work, "parity")
    sql = open(os.path.join(pdir, "oracle.sql")).read()
    slice_path = open(os.path.join(pdir, "slice.path")).read()
    con = duckdb.connect()
    if slice_path.endswith(".csv"):
        con.execute(f"CREATE VIEW slice AS SELECT * FROM read_csv('{slice_path}', header=true, "
                    "columns={'id': 'BIGINT', 'company_name': 'VARCHAR'})")
    else:
        con.execute(f"CREATE VIEW slice AS SELECT * FROM read_parquet('{slice_path}/*.parquet')")
    oracle = sorted(con.execute(sql).fetchall())
    spark_dir = os.path.join(pdir, "spark", "company_duplicates_final")
    got = sorted(con.execute(f"SELECT {', '.join(REPORT_COLS)} FROM "
                             f"read_parquet('{spark_dir}/*.parquet')").fetchall())
    if len(oracle) != len(got):
        return f"parity: {len(got)} Spark rows vs {len(oracle)} DuckDB rows"
    for a, b in zip(got, oracle):
        for x, y, name in zip(a, b, REPORT_COLS):
            same = (math.isclose(x, y, rel_tol=0, abs_tol=1e-9)
                    if isinstance(x, float) and isinstance(y, float) else x == y)
            if not same:
                return f"parity: row_order {a[0]} {name}: Spark {x!r} vs DuckDB {y!r}"
    return None


ER_LAYERS = ("sources.", "normalize.", "matching.", "cluster.", "pipeline.", "outputs.")


def layer_runs(workload, metric):
    """Whether the layer a metric belongs to runs in `workload`. A layer
    that does not run did no work: its counts read 0."""
    if metric.startswith("streaming."):
        return workload == "docs_stream"
    if metric.startswith(ER_LAYERS):
        return workload.startswith("er_")
    return True


def benchmark_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()

    classpath = build.build()
    work = os.path.join(build.build_dir(), "work",
                        f"{a.workload or 'selftest'}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "parity"))
    try:
        if a.self_test:
            return java("perfbench.SelfTest", [work], work, classpath)
        if not a.workload:
            ap.error("--workload is required")
        rc = java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                                     "--work", work], work, classpath,
                  JVM_TIMEOUT_S.get(a.workload, 170))
        if rc != 0:
            print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
            return rc or 1
        with open(os.path.join(work, "report.json")) as fh:
            report = json.load(fh)
        if a.workload.startswith("er_"):
            problem = parity(work)
            report["attempted"] += 1
            if problem:
                report["failed"] += 1
                report["problems"].append(problem)
            report["stamps"]["duckdb_parity"] = problem or "ok"
        metrics = report["metrics"]
        metrics["failed_ratio"] = {"value": report["failed"] / report["attempted"], "unit": "ratio"}
        print(json.dumps(report, separators=(",", ":")))
        end_to_end, per_layer = benchmark_lists()
        wanted = per_layer if a.trace else end_to_end
        for m in wanted:
            if m["name"] not in metrics and not layer_runs(a.workload, m["name"]):
                metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
            return 4
        result = {
            "correct": report["failed"] == 0,
            "attempted": report["attempted"],
            "failed": report["failed"],
            "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                        for m in wanted},
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
