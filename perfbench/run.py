#!/usr/bin/env python3
"""The repository's benchmark: one command per workload.

    python3 perfbench/run.py --workload sync_server --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program from source (build.py),
generates the seeded input tables (gen.py), runs the workload in one JVM
(perfbench/src), checks every op's output, prints a per-workload summary
and, as its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Exits non-zero if any op failed its check or the
run did not complete. The full result, with a host stamp (nproc, heap, JDK,
SPARK_GRAFT_CPUS), is written to the build directory's ``results/``; a
traced run also writes its spans there.

Workloads (all closed loops; Spark runs local[nproc]):
  sync_server  2 clients POST /bench/read to an in-process HttpFrontend, one
               seeded window (~3k records) of one stream, dialect and zstd
               setting per op; no Spark.
  scan_spark   1 client cycling the split, chain, rdf and stream Spark paths
               over ~10k-record windows; stream runs under
               Trigger.AvailableNow and reports the share of its window it
               delivered.
  gate_suite   a fixed sample of SparkEntry.queries over sf0.1-sized tables
               after a warmup pass, row counts checked against DuckDB
               running the oracle SQL.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, the same four
for every workload: ``setup_s``, ``op_p50_ms`` and ``op_p95_ms`` (an op is a
sync request, a Spark access path, or a gate) and ``work_per_s`` (nominal
input records per second; gates per second on gate_suite). ``--trace 1``
traces alternate ops and reports the per-layer metrics; a layer the workload
does not use reads 0. ``trace.self_ms.<layer>`` splits the traced ops' time
by the spans the benchmark opens around them: on sync_server ``server`` is
the whole frontend request (HttpFrontend, Connector.handle and ProtoWriter,
which run inside it unspanned) less its ``sources`` transport calls, which
are less the ``fixture``'s serving time.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the source tree

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("sync_server", "scan_spark", "gate_suite")
HEAP = "3g"
JVM_TIMEOUT_S = 165  # from the end of the build check

# Per-workload end-to-end figures printed in each run's summary.
SUMMARY = {
    "sync_server": ["records_per_s", "sync_p50_ms", "sync_p95_ms", "first_record_p50_ms"],
    "scan_spark": ["records_per_s", "split_ms", "chain_ms", "rdf_ms", "stream_ms"],
    "gate_suite": ["suite_s", "relational_s", "curation_s", "ann_read_s", "ann_write_s"],
}
# Per-layer names for the per-workload breakdowns above.
DETAIL = {
    "first_record_p50_ms": "sync.first_record_p50_ms",
    "split_ms": "path.split_ms", "chain_ms": "path.chain_ms",
    "rdf_ms": "path.rdf_ms", "stream_ms": "path.stream_ms",
    "relational_s": "family.relational_s", "curation_s": "family.curation_s",
    "ann_read_s": "family.ann_read_s", "ann_write_s": "family.ann_write_s",
}


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jdk_version():
    p = subprocess.run(["java", "-version"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    return p.stdout.splitlines()[0].strip() if p.stdout else "unknown"


def oracle_check(gate_dir, gates, tmp_dir):
    """Row count of each gate against DuckDB running its oracle SQL; gates
    without an oracle must return rows. Returns failure messages."""
    import duckdb
    con = duckdb.connect(config={"temp_directory": tmp_dir})
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{gate_dir}/{t}.parquet'")
    fails = []
    for g in gates:
        if g["oracle"] is None:
            if g["rows"] <= 0:
                fails.append(f"{g['name']}: no rows")
            continue
        try:
            n = con.sql(f"SELECT count(*) FROM ({g['oracle']})").fetchone()[0]
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"{g['name']}: oracle error {e}")
            continue
        if n != g["rows"]:
            fails.append(f"{g['name']}: rows {g['rows']} != oracle {n}")
    con.close()
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        classpath = build.build(root, out_dir)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    # set-up time starts here: a one-off compile is not part of it
    start_ms = int(time.time() * 1000)

    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    http_dir, gate_dir, tmp_dir = (os.path.join(run_dir, d) for d in ("http", "gates", "tmp"))
    os.makedirs(tmp_dir)
    try:
        if a.workload == "gate_suite":
            gen.gate_tables(a.seed, gate_dir)
            gen.flush(gate_dir)
        else:
            gen.http_tables(a.seed, http_dir)
            gen.flush(http_dir)
        gen_s = time.time() - start_ms / 1000
        cpus = str(nproc())
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp_dir)
        out_json = os.path.join(run_dir, "result.json")
        cmd = (["java"] + build.jvm_flags() + [
            f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp_dir}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", os.pathsep.join(classpath), "perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), http_dir, gate_dir, tmp_dir,
            out_json, str(start_ms)])
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, JVM_TIMEOUT_S - (time.time() * 1000 - start_ms) / 1000))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out_json):
            sys.stderr.write(open(log_path).read()[-6000:])
            print(f"workload JVM failed: exit {rc}", file=sys.stderr)
            return 3
        jvm_s = time.time() - start_ms / 1000 - gen_s
        res = json.load(open(out_json))
        res["info"]["gen_s"] = f"{gen_s:.3f}"
        res["info"]["jvm_s"] = f"{jvm_s:.3f}"
        failures = list(res["failures"])
        failed = res["failed"]
        if a.workload == "gate_suite":
            t0 = time.time()
            oracle_fails = oracle_check(gate_dir, res["gates"], tmp_dir)
            res["info"]["oracle_check_s"] = f"{time.time() - t0:.3f}"
            failed += len(oracle_fails)
            failures += oracle_fails
        got = res["metrics"]
        host = {"nproc": int(cpus), "heap": HEAP, "jdk": jdk_version(), "SPARK_GRAFT_CPUS": cpus}
        names = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {}
        for m in names:
            key = m["name"]
            src = next((k for k, v in DETAIL.items() if v == key), key)
            v = got.get(src, {}).get("value")
            if v is None and a.trace:
                v = 0.0  # layer not used by this workload
            if v is None:
                failures.append(f"metric {key} missing")
                failed += 1
                v = 0.0
            metrics[key] = {"value": v, "unit": m["unit"]}
        attempted = max(1, res["attempted"])
        correct = failed == 0

        print(f"== {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
              f"host: nproc={host['nproc']} heap={HEAP} jdk='{host['jdk']}' SPARK_GRAFT_CPUS={cpus}")
        if not a.trace:
            rows = ["setup_s"] + SUMMARY[a.workload]
            for k in rows:
                if k in got:
                    print(f"   {k:<24} {got[k]['value']:>14.4f} {got[k]['unit']}")
            print(f"   {'failed_ratio':<24} {failed / attempted:>14.4f} ratio  ({failed}/{attempted} ops)")
        for k, v in sorted(res["info"].items()):
            print(f"   info {k} = {v}")
        for f in failures[:20]:
            print(f"   FAIL {f}")
        if failures:
            sys.stderr.write(open(log_path).read()[-6000:])

        artifact = dict(res, host=host, workload=a.workload, seed=a.seed, seconds=a.seconds,
                        trace=a.trace, failed=failed, failures=failures)
        results = os.path.join(out_dir, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(artifact, f, indent=1)
        if a.trace and os.path.exists(out_json + ".spans.jsonl"):
            shutil.copy(out_json + ".spans.jsonl",
                        os.path.join(results, f"{a.workload}-seed{a.seed}.spans.jsonl"))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
