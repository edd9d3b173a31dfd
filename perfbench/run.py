#!/usr/bin/env python3
"""graft benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload docdb|olap|curation|all --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
benchmark (`perfbench/build.py`) into `.bench_build/`. Each workload runs
in one JVM with Spark `local[<cpus>]` and one client; the JVM side
(`perfbench/src/perfbench/Main.scala`) generates the inputs from the seed,
times the calls and writes a result file, and this script checks the
oracle-backed query outputs against DuckDB (the canonicalization of
`scripts/selfcheck.py`), prints every metric as `metric <name> <value>
<unit>`, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones of the traced run. Any failure to build, set up or
run exits non-zero without a result line.
"""
import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("docdb", "olap", "curation")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DEADLINE_S = 170


def run_jvm(jar, workload, seed, seconds, trace, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    # The first run of a jar records the classes it loads into a
    # class-data-sharing archive at exit, and later runs map it: about 8 s
    # less class loading per run (olap on four cores, 26 s against 34 s of
    # wall). Set-up reports the median of its repetitions and the timed
    # passes follow a reference pass, so the archive shortens the untimed
    # start, not a metric.
    archive = jar[:-len(".jar")] + ".jsa"
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.isfile(archive)
           else f"-XX:ArchiveClassesAtExit={archive}.tmp")
    cmd = build.java_cmd(jar, ["--workload", workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", str(trace),
                               "--work", work],
                         [cds, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: {workload} JVM exited with {code}")
    if os.path.isfile(archive + ".tmp"):
        os.rename(archive + ".tmp", archive)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def load_canon():
    """`canon` of scripts/selfcheck.py: the repository's own oracle
    canonicalization (columns by name, rows sorted, dtypes normalized)."""
    path = os.path.join("scripts", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def oracle_failures(result):
    checks = result["oracle_checks"]
    if not checks:
        return []
    import duckdb
    canon = load_canon()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(result["data_dir"], f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for c in checks:
        try:
            got = canon(con.sql(f"SELECT * FROM '{c['result']}/*.parquet'").df())
            want = canon(con.sql(c["sql"]).df())
            if list(got.columns) != list(want.columns) or len(got) != len(want) or not got.equals(want):
                bad.append(f"oracle {c['query']}: {len(got)} rows vs {len(want)} in DuckDB")
        except Exception as e:  # a query the oracle cannot run is a failed check
            bad.append(f"oracle {c['query']}: {e}")
    con.close()
    return bad


def run_workload(jar, workload, seed, seconds, trace, deadline):
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "runs", f"{workload}-{seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        # docdb reads only `events`, its ingest batch: a 2000-row corpus
        gen.generate(os.path.join(work, "data"), seed, sf=0.002 if workload == "docdb" else 0.01)
        inputs_s = time.monotonic() - t0
        res = run_jvm(jar, workload, seed, seconds, trace, work, deadline)
        res["report"]["inputs_s"] = {"value": inputs_s, "unit": "s"}
        bad = oracle_failures(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["attempted"] = int(res["attempted"]) + len(res["oracle_checks"])
    res["failed"] = int(res["failed"]) + len(bad)
    res["failures"] = res["failures"] + bad
    res["report"]["error_rate"]["value"] = res["failed"] / res["attempted"]
    return res


def print_metrics(prefix, metrics):
    for name, m in metrics.items():
        print(f"metric {prefix}{name} {m['value']!r} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    jar = build.build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        deadline = time.monotonic() + DEADLINE_S  # the limit counts after the build
        res = run_workload(jar, w, a.seed, a.seconds, a.trace, deadline)
        prefix = f"{w}." if a.workload == "all" else ""
        print(f"# workload {w} seed {a.seed}: {res['attempted']} attempted, {res['failed']} failed")
        for f in res["failures"]:
            print(f"# failure: {f}")
        print_metrics(prefix, res["end_to_end"])
        print_metrics(prefix, res["report"])
        print_metrics(prefix, res["per_layer"])
        for k, v in sorted(res["fingerprints"].items()):
            print(f"# fingerprint {k} {v}")
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        chosen = res["per_layer"] if a.trace else res["end_to_end"]
        for k, m in chosen.items():
            out["metrics"][prefix + k] = {"value": m["value"], "unit": m["unit"]}
    out["correct"] = out["failed"] == 0
    print(json.dumps(out, separators=(",", ":")))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
