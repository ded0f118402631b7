#!/usr/bin/env python3
"""Benchmark entry point; run it from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from the checkout's sources (once per
source state), generates the workload's inputs from the seed into a
fresh directory under .perfbench/tmp, runs the harness JVM
(perfbench.Main) on them, checks the outputs, and prints human-readable
lines followed by one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The measured work is fixed (one revenue day, one catalog pass) and
sized to take about --seconds on a 4-core host; --seconds is kept in
the run record. --trace 0 reports the end-to-end metrics of
BENCHMARK.json; --trace 1 reports its per-layer metrics, writes the
span file under
.perfbench/spans and compares the run's counts with an earlier traced
run of the same workload and seed. Every run also leaves a record under
.perfbench/records.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# revenue_daily sizing: invoices per day and days bootstrapped in
# set-up; the measured operation lands the day after them
PER_DAY = 100
HISTORY = 1
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")


# per-layer metrics of the other workload's layers, which a workload
# reports as 0: revenue_daily runs no catalog query, analyst_reads
# writes no store and reads no mart
NOT_MEASURED = {
    "revenue_daily": ("catalog.",),
    "analyst_reads": ("store.", "mart.", "pipeline.checks_s", "streaming.merge_batch_s"),
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads from the checkout, in a stable order."""
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    out = []
    for top in tops:
        if os.path.isfile(top):
            out.append(top)
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def build(root):
    """Compile engine + harness unless this source state is already
    built; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "perfbench.stamp")
    cp_file = os.path.join(target, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    classpath = lines[-1].strip()
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, stamp


def host_calibration_s():
    """Seconds a fixed pure-Python loop takes now: a record of how fast
    the host ran, to tell host drift from a change in the program."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- inputs
def make_revenue_inputs(data, seed):
    feed = gen.StripeFeed(seed, PER_DAY)
    terms, expected, raw_bytes = [], {}, 0
    for i in range(HISTORY + 1):
        day = gen.FEED_START + dt.timedelta(days=i)
        invoices, subs, updates = feed.day(day)
        d = os.path.join(data, "stripe", day.isoformat())
        os.makedirs(d)
        raw_bytes += gen.write_ndjson(os.path.join(d, "invoices.ndjson"), invoices)
        raw_bytes += gen.write_ndjson(os.path.join(d, "subscriptions.ndjson"), subs)
        raw_bytes += gen.write_ndjson(os.path.join(d, "subscription_updates.ndjson"), updates)
        terms.extend(gen.deferred_terms(invoices))
        if i >= HISTORY:
            expected[day.isoformat()] = (gen.expected_q1(terms, day),
                                         gen.expected_q4(terms, day))
    sizes = {"invoices_per_day": PER_DAY, "history_days": HISTORY,
             "days_generated": HISTORY + 1, "raw_bytes_generated": raw_bytes}
    return expected, sizes


def make_analyst_inputs(data, seed):
    gen.tables(data, seed)
    import pyarrow.parquet as pq
    return {"scale": "sf0.01 row counts", "tables_rows": {f[:-8]: pq.ParquetFile(os.path.join(data, f)).metadata.num_rows
                            for f in sorted(os.listdir(data))},
            "tables_bytes": sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data))}


# ---------------------------------------------------------------- checks
def close(a, b):
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


def check_revenue(res, expected):
    """(attempted, failures): Q1 and Q4 per measured day against the
    generator's own recomputation."""
    n, bad = 0, []
    for day, (q1, q4) in expected.items():
        for key, want in ((f"q1 {day}", q1), (f"q4 {day}", q4)):
            if key not in res["expect"]:
                continue
            n += 1
            got = res["expect"][key]
            if not close(got, want):
                bad.append(f"{key}: engine {got!r} vs recomputed {want!r}")
    return n, bad, {}


def check_analyst(res, data, root):
    """(attempted, failures, output checksums): each dumped query result
    against its DuckDB oracle by the rule of scripts/compare.py (columns
    by name, rows sorted, values exact, DuckDB types equal)."""
    import duckdb
    sys.path.insert(0, os.path.join(root, "scripts"))
    from compare import fetch_sorted
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    dump = res["expect"]["dump"]
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)

    n, bad, sums = 0, [], {}
    for q in sorted(d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d))):
        n += 1
        files = sorted(os.path.join(dump, q, f) for f in os.listdir(os.path.join(dump, q))
                       if f.endswith(".parquet"))
        if not files:
            bad.append(f"{q}: no output files")
            continue
        try:
            got = fetch_sorted(con, f"SELECT * FROM read_parquet({files!r})")
            sums[f"out {q}"] = hashlib.sha256(repr(got).encode()).hexdigest()[:16]
            if q not in oracle:
                if not got[2]:
                    bad.append(f"{q}: no rows")
                continue
            want = fetch_sorted(con, oracle[q])
        except duckdb.Error as e:
            bad.append(f"{q}: {e}")
            continue
        if got[0] != want[0]:
            bad.append(f"{q}: columns {got[0]} vs oracle {want[0]}")
        elif got[1] != want[1]:
            bad.append(f"{q}: types {got[1]} vs oracle {want[1]}")
        elif got[2] != want[2]:
            bad.append(f"{q}: {len(got[2])} rows differ from the oracle's {len(want[2])}")
    return n, bad, sums


def check_determinism(state_dir, key, checksums):
    """Compare this traced run's counts and output checksums with the
    first traced run of the same workload, seed and source state in this
    checkout."""
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, f"{key}.json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(checksums, f, indent=1, sort_keys=True)
        return []
    with open(path) as f:
        first = json.load(f)
    keys = sorted(set(first) | set(checksums))
    return [f"determinism: {k} was {first.get(k)!r}, now {checksums.get(k)!r}"
            for k in keys if first.get(k) != checksums.get(k)]


# ---------------------------------------------------------------- main
def run_jvm(cmd, env, log_path, limit):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["revenue_daily", "analyst_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the root of a checkout of the engine (no build.sbt or src/main/scala/graft here)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)

    classpath, stamp = build(root)
    calibration = host_calibration_s()
    t0 = time.time()
    state = os.path.join(root, ".perfbench")
    tmp = os.path.join(state, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        if args.workload == "revenue_daily":
            expected, sizes = make_revenue_inputs(data, args.seed)
        else:
            sizes = make_analyst_inputs(data, args.seed)

        cpus = min(4, len(os.sched_getaffinity(0)))
        stamp_s = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S")
        name = f"{args.workload}-{args.seed}-trace{args.trace}-{stamp_s}-{os.getpid()}"
        for d in ("records", "spans", "logs"):
            os.makedirs(os.path.join(state, d), exist_ok=True)
        out = os.path.join(tmp, "result.json")
        spans = os.path.join(state, "spans", f"{name}.json")
        jtmp = os.path.join(tmp, "jvm-tmp")
        os.makedirs(jtmp)
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
               [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={jtmp}",
                f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
                f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", classpath, "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--trace", str(args.trace),
                "--t0-ms", str(int(t0 * 1000)), "--data", data, "--work", tmp,
                "--out", out, "--spans", spans, "--history", str(HISTORY)])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        log = os.path.join(state, "logs", f"{name}.log")
        code = run_jvm(cmd, env, log, RUN_LIMIT_S - (time.time() - t0))
        if code != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-3000:])
            die(f"harness JVM {'timed out' if code is None else f'exited {code}'}; log: {log}")
        with open(out) as f:
            res = json.load(f)
        os.remove(log)

        if args.workload == "revenue_daily":
            n, bad, sums = check_revenue(res, expected)
        else:
            n, bad, sums = check_analyst(res, data, root)
        attempted = res["attempted"] + n
        failures = res["failures"] + bad
        if args.trace:
            failures += check_determinism(os.path.join(state, "determinism"),
                                          f"{args.workload}-{args.seed}-{stamp[:16]}",
                                          {**res["checksums"], **sums})
        failed = res["failed"] + len(bad)
        correct = not failures

        op = res["op"] or {}
        e2e = {"setup_s": res["setup_s"], "op_s": op.get("op_s"), "read_s": op.get("read_s")}
        if args.trace:
            own = {m["name"] for m in bench["per_layer"]
                   if not m["name"].startswith(NOT_MEASURED[args.workload])}
            metrics = {m["name"]: {"value": res["per_layer"].get(m["name"])
                                   if m["name"] in own else 0.0, "unit": m["unit"]}
                       for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        missing = sorted(k for k, v in metrics.items() if v["value"] is None)
        if missing:
            correct = False
            failures.append(f"no value for {', '.join(missing)}")

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "git_commit": git_commit(root),
            "source_sha256": stamp, "nproc": os.cpu_count(),
            "cpus_available": len(os.sched_getaffinity(0)), "master": res["master"],
            "host_calibration_s": calibration,
            "inputs": sizes, "op": res["op"], "setup_s": res["setup_s"],
            "attempted": attempted, "failed": failed, "failures": failures,
            "metrics": metrics, "spans": spans if args.trace else None,
        }
        with open(os.path.join(state, "records", f"{name}.json"), "w") as f:
            json.dump(record, f, indent=1)

        label = {"revenue_daily": {"op_s": "revenue_day_s", "read_s": "mart_query_s"},
                 "analyst_reads": {"op_s": "catalog_pass_s", "read_s": "catalog_query_median_s"}
                 }[args.workload]
        print(f"workload {args.workload} seed {args.seed} master {res['master']} "
              f"nproc {os.cpu_count()} host_calibration_s {calibration:.3f} "
              f"inputs {json.dumps(sizes)}")
        for k, v in e2e.items():
            if v is not None:
                print(f"  {label.get(k, k):24s} {v:.4f} s   ({k})")
        if "bytes_stored_per_input_byte" in res["expect"]:
            print(f"  {'bytes_stored_per_input_byte':24s} "
                  f"{res['expect']['bytes_stored_per_input_byte']:.4f} ratio")
        print(f"  {'failed_ops_ratio':24s} {failed / max(1, attempted):.4f} ratio "
              f"({failed}/{attempted})")
        if args.trace:
            for k, v in sorted(res["per_layer"].items()):
                print(f"  {k:40s} {v:.6g}")
            print(f"  spans: {spans}")
        for msg in failures:
            print(f"  FAILED {msg}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
