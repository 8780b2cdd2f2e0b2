#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--inject-failure]

Run from the root of a checkout. Builds the engine from source (cached
by source hash in $CARGO_TARGET_DIR, default .bench_build), generates
the inputs from the seed, runs the workload in one benchmark JVM, checks
every op's output against DuckDB, prints a readable report and, as the
last line, one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run. Exits non-zero if any op failed.

Workloads (closed loop, one client thread, session local[nproc]):
  pipelines     st25/st27/st28 end to end (stream → JDBC sink → readback)
  lakehouse_rw  appends, snapshot reads, deletes/merges and maintenance on
                one SnapshotCatalog table
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Generated input size (sf 0.01: 10k events, 500 documents) and the rows
# of each lakehouse_rw batch and merge source.
SF = 0.01
LAKE_BATCH_ROWS = 200
# A run measures a fixed number of rounds, sized from --seconds: op times
# drift with the ops a JVM has run (the engine leaves per-op residue), so
# a time-bounded loop would give a faster engine more ops and more drift.
# Rounds per 10 s, from warm round times on a 4-core host: a pipelines
# round (3 ops) takes ~9 s, a lakehouse_rw round (5-8 ops) ~3 s, each
# with the 0.3 s settle before every op.
ROUNDS_PER_10S = {"pipelines": 3, "lakehouse_rw": 6}
JVM_TIMEOUT_S = 170

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def cpu_jiffies():
    """(steal, total) jiffies of the host's CPUs, to report how much of a
    run's wall time the hypervisor took away."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(classes, args, run_dir, deadline):
    """Run the benchmark JVM to its end; returns its launch time (epoch s)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + build.spark_jars(), "graft.perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        launched = time.time()
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    return launched


# --- output checks -----------------------------------------------------------

def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_registry(run, data_dir, out_dir):
    """Run tools/check_oracle.py over each query's reference output and its
    registered DuckDB oracle. Returns {query: error or None}."""
    oracle = run["figures"]["oracle"]
    res_dir = os.path.join(out_dir, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, "oracle_sql.json"), "w") as f:
        json.dump({k: v for k, v in oracle.items() if v is not None}, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data_dir, res_dir], capture_output=True, text=True)
    verdict = {k: "no oracle SQL registered" for k, v in oracle.items() if v is None}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if word == "PASS":
            verdict[name] = None
        elif word == "FAIL":
            verdict[name] = rest[len(name) + 2:]
    for k in oracle:
        verdict.setdefault(k, f"no oracle verdict (check_oracle.py exit {p.returncode}: "
                              f"{p.stderr.strip()[-300:]})")
    return verdict


def check_lakehouse(run, data_dir, out_dir):
    """Replay the logged ops on the same generated batches in DuckDB;
    every read and the final snapshot must match. Returns {op idx: error}."""
    import pandas as pd
    con = duck(data_dir)
    bad = {}
    table = None
    for o in run["ops"]:
        info = o["info"]
        if info["table"] != table:  # a traced run repeats its rounds on a fresh table
            table = info["table"]
            con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM events")
        if o["error"]:
            continue
        name = o["name"]
        if name == "append":
            con.execute(f"INSERT INTO t SELECT * FROM read_parquet("
                        f"'{data_dir}/batches/{info['batch']}/events.parquet')")
        elif name == "delete":
            con.execute("DELETE FROM t WHERE event_type = ? AND value < ?",
                        [info["event_type"], info["lt"]])
        elif name == "merge":
            src = f"read_parquet('{data_dir}/merges/{info['merge']}/events.parquet')"
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM {src}")
            con.execute("UPDATE t SET value = s.value, event_type = s.event_type FROM s "
                        "WHERE t.event_id = s.event_id")
            con.execute("INSERT INTO t SELECT * FROM s WHERE event_id NOT IN (SELECT event_id FROM t)")
        elif name == "read_all":
            want = con.execute("SELECT event_type, count(*), sum(CAST(round(value * 100) AS BIGINT)) "
                               "FROM t GROUP BY 1 ORDER BY 1").fetchall()
            got = sorted(tuple(r) for r in info.get("rows", []))
            if [list(r) for r in want] != [list(r) for r in got]:
                bad[o["idx"]] = f"read_all {got} != {want}"
        elif name == "read_ts":
            want = con.execute(
                "SELECT count(*), sum(CAST(round(value * 100) AS BIGINT)), min(event_id), max(event_id) "
                "FROM t WHERE ts >= CAST(? AS TIMESTAMP) AND ts < CAST(? AS TIMESTAMP)",
                [info["lo"], info["hi"]]).fetchall()
            got = [tuple(r) for r in info.get("rows", [])]
            if [list(r) for r in want] != [list(r) for r in got]:
                bad[o["idx"]] = f"read_ts {got} != {want}"
    final = os.path.join(out_dir, "lake_final")
    got = pd.read_parquet(final).sort_values("event_id", ignore_index=True)
    want = con.execute("SELECT * FROM t ORDER BY event_id").df()
    for df in (got, want):
        if getattr(df["ts"].dt, "tz", None) is not None:
            df["ts"] = df["ts"].dt.tz_convert("UTC").dt.tz_localize(None)
        df["ts"] = df["ts"].astype("datetime64[us]")
    try:
        pd.testing.assert_frame_equal(got[list(want.columns)], want, check_dtype=False)
    except AssertionError as e:
        bad["final"] = f"final snapshot differs: {str(e)[:300]}"
    return bad


# --- metrics -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pipelines", "lakehouse_rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="corrupt one timed op's output to prove the checks fail loudly")
    a = ap.parse_args()
    deadline = time.monotonic() + JVM_TIMEOUT_S

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build.build(build_dir)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        t0 = time.monotonic()
        rounds = max(1, round(a.seconds / 10 * ROUNDS_PER_10S[a.workload]))
        lake = a.workload == "lakehouse_rw"
        # lakehouse_rw uses one batch per round (the three warm-up rounds
        # included) plus one for each fresh table, and one merge source
        # every fourth round plus one
        gen.generate(data_dir, a.seed, SF, max(rounds, 3) + 1 if lake else 0,
                     rounds // 4 + 2 if lake else 0, LAKE_BATCH_ROWS)
        gen_s = time.monotonic() - t0
        cores = len(os.sched_getaffinity(0))
        steal0 = cpu_jiffies()
        launched = run_jvm(classes, ["--workload", a.workload, "--data", data_dir,
                                     "--out", out_dir, "--rounds", str(rounds),
                                     "--trace", str(a.trace), "--seed", str(a.seed),
                                     "--cores", str(cores),
                                     "--inject-failure", "1" if a.inject_failure else "0"],
                           run_dir, deadline)
        steal1 = cpu_jiffies()
        with open(os.path.join(out_dir, "run.json")) as f:
            run = json.load(f)
        run["steal"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        run["launched"] = launched
        # the run's record and spans outlive the run directory
        stem = f"{a.workload}-{a.seed}-trace{a.trace}"
        shutil.copyfile(os.path.join(out_dir, "run.json"),
                        os.path.join(build_dir, f"run-{stem}.json"))
        if a.trace:
            shutil.copyfile(os.path.join(out_dir, "spans.jsonl"),
                            os.path.join(build_dir, f"spans-{a.workload}-{a.seed}.jsonl"))
        report(a, run, gen_s, data_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, run, gen_s, data_dir, out_dir):
    ops = run["ops"]
    if a.workload == "lakehouse_rw":
        bad = check_lakehouse(run, data_dir, out_dir)
        query_bad = {}
    else:
        query_bad = {k: v for k, v in check_registry(run, data_dir, out_dir).items() if v}
        bad = {}
    if "final" in bad:
        log(bad["final"])

    def failed(o):
        return bool(o["error"]) or o["ok"] is False or o["name"] in query_bad or o["idx"] in bad

    for o in ops:
        if failed(o):
            why = (o["error"] or query_bad.get(o["name"]) or bad.get(o["idx"])
                   or "output differs from the oracle-checked warm-up output")
            log(f"op {o['idx']} {o['name']} ({'warm-up' if o['warm'] else 'timed'}) failed: {why}")
    timed = [o for o in ops if not o["warm"]]
    warm_failed = [o for o in ops if o["warm"] and failed(o)]
    n_failed = sum(1 for o in timed if failed(o))
    attempted = len(timed)
    correct = attempted > 0 and n_failed == 0 and not warm_failed and "final" not in bad

    untraced = [o for o in timed if not o["traced"]]
    walls = [o["wall_ms"] for o in untraced]
    total_s = sum(walls) / 1000
    # one cold set-up: generation, then from the JVM's launch to the end of
    # its session start, staging and warm-up pass
    cold_s = run["setup_end_epoch_ms"] / 1000 - run["launched"]
    setup_s = gen_s + cold_s
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(untraced) / total_s if total_s else 0.0,
        "op_p50_ms": statistics.median(walls) if walls else 0.0,
        "records_per_s": sum(o["records"] for o in untraced) / total_s if total_s else 0.0,
    }
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    extra = {"failed_ratio": (n_failed / attempted if attempted else 1.0, "ratio"),
             "peak_rss_mb": (run["peak_rss_mb"], "MB")}
    if len(walls) >= 100:
        extra["op_p90_ms"] = (pct(walls, 0.9), "ms")
    if a.workload == "lakehouse_rw":
        reads = [o["wall_ms"] for o in untraced if o["kind"] == "read"]
        commits = [o["wall_ms"] for o in untraced if o["kind"] == "commit"]
        for nm, xs in (("read", reads), ("commit", commits)):
            if xs:
                extra[f"{nm}_p50_ms"] = (statistics.median(xs), "ms")
            if len(xs) >= 100:
                extra[f"{nm}_p90_ms"] = (pct(xs, 0.9), "ms")
        extra["space_amp"] = (run["figures"]["space_amp"], "ratio")

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cores {run['cores']}  "
          f"rounds {run['rounds']}  measured {run['measured_s']:.2f} s  "
          f"host CPU steal {100 * run['steal']:.1f} %")
    print(f"ops attempted {attempted}  failed {n_failed}  warm-up failed {len(warm_failed)}  "
          f"set-up: generation {gen_s:.2f} s + cold JVM {cold_s:.2f} s (JVM start "
          f"{run['jvm_start_epoch_ms'] / 1000 - run['launched']:.2f} s of it)")
    for k, v in e2e.items():
        print(f"  {k:<16} {v:>14.4f} {units[k]}")
    for k, (v, u) in extra.items():
        print(f"  {k:<16} {v:>14.4f} {u}")

    if a.trace:
        layers = dict(run["layers"])
        layers.update({k: v for k, v in run["figures"].items() if k.startswith("catalog.")})
        traced = [o for o in timed if o["traced"]]
        for nm in ("append", "delete", "merge", "maintain", "expire"):
            xs = [o["build_ms"] for o in traced if o["name"] == nm]
            layers[f"catalog.{nm}_ms"] = statistics.mean(xs) if xs else 0.0
        xs = [o["build_ms"] for o in traced if o["kind"] == "read"]
        layers["catalog.resolve_ms"] = statistics.mean(xs) if xs else 0.0
        print("per-layer (traced passes; per-op means unless named otherwise):")
        for k in sorted(layers):
            print(f"  {k:<40} {layers[k]:>16.4f}")
        split = sum(layers[k] for k in ("op.build_ms", "op.plan_ms", "op.exec_ms", "op.teardown_ms"))
        base = statistics.mean(walls) if walls else 0.0
        print(f"harness split {split:.1f} ms per traced op; untraced op mean {base:.1f} ms "
              f"(ratio {split / base if base else 0:.3f})")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": n_failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
