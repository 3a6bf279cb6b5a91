#!/usr/bin/env python3
"""One run of the graft benchmark.

    python3 perfbench/run.py --workload traffic_replay --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark from source (see build.py), starts one
JVM with a private java.io.tmpdir under .bench_build/runs/, and prints as its
last line one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics. The line before it is the full
run record (host, correctness notes, details); the record, with its spans,
is also kept under .bench_build/records/ for diff_layers.py.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import build

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("traffic_replay", "traffic_live")
# one run must end within 180 s; the build is outside this budget
RUN_TIMEOUT_S = 175
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def host():
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = int(v.split()[0]) * 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_bytes": mem.get("MemTotal"),
        "mem_available_bytes": mem.get("MemAvailable"),
        "loadavg": list(os.getloadavg()),
    }


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def check_operator_rows(record):
    """Each operator row's count against DuckDB's count of its oracle SQL
    over the same events table; a row without oracle SQL must have rows."""
    import duckdb

    con = duckdb.connect()
    path = Path(record["operator_dir"]) / "events.parquet"
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    failed = 0
    for row in record["operator_rows"]:
        if row["error"]:
            note = f"{row['name']} failed: {row['error'][:300]}"
        elif row["oracle_sql"]:
            want = con.execute(f"SELECT count(*) FROM ({row['oracle_sql']})").fetchone()[0]
            row["oracle_count"] = want
            note = None if want == row["count"] else \
                f"{row['name']}: {row['count']} rows, oracle {want}"
        else:
            note = None if row["count"] > 0 else f"{row['name']}: no rows"
        record["attempted"] += 1
        if note:
            failed += 1
            record["failures"].append(note)
    con.close()
    record["failed"] += failed
    record["correct"] = record["failed"] == 0
    record["metrics"]["operators.failed_rows"] = {"value": failed, "unit": "count"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    expected = expected_metrics(args.trace)
    before = host()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    rundir = build.BUILD / "runs" / tag
    shutil.rmtree(rundir, ignore_errors=True)
    tmp = rundir / "tmp"
    tmp.mkdir(parents=True)
    record_file = rundir / "record.json"
    log_file = rundir / "jvm.log"
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(before["nproc"]), "--tmp", str(tmp),
           "--record", str(record_file)]
    t0 = time.monotonic()
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=rundir, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(rundir, ignore_errors=True)
            sys.exit(1)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    wall = time.monotonic() - t0

    if code != 0 or not record_file.exists():
        tail = log_file.read_text(errors="replace")[-4000:]
        print(f"perfbench: JVM exited with {code}\n{tail}", file=sys.stderr)
        shutil.rmtree(rundir, ignore_errors=True)
        return 1
    record = json.loads(record_file.read_text())
    if "operator_rows" in record:
        check_operator_rows(record)
    shutil.rmtree(rundir, ignore_errors=True)
    record["host"] = {"before": before, "after": host(), "run_wall_s": wall}
    metrics = record["metrics"]
    missing = sorted(set(expected) - set(metrics))
    wrong = sorted(k for k in expected if k in metrics and metrics[k]["unit"] != expected[k])
    if missing or wrong:
        print(f"perfbench: metrics missing {missing}, with wrong unit {wrong}", file=sys.stderr)
        return 1

    records = build.BUILD / "records"
    records.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (records / f"{stamp}-{tag}.json").write_text(json.dumps(record, indent=1) + "\n")
    record.pop("spans", None)
    print(json.dumps(record))
    print(json.dumps({
        "correct": bool(record["correct"]),
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": {k: metrics[k] for k in expected},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
