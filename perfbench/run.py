#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. Builds graft plus the harness (perfbench/build.py)
if needed, generates the workload's inputs from the seed, runs one JVM
(Spark local[nproc], one caller thread, a closed loop of sequential calls:
a cold pass then warm passes for --seconds), checks every output outside
the timed region, and prints each metric by name with its unit. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

Workloads:
  pipeline_daily  daily DAG runs (PipelineMain.ingest then mergePublish)
                  over a kafka-log topic into a season .tgz
  query_mix       batch queries from SparkEntry.queries, each timed as a
                  noop-sink write

Exit status: 0 when every operation and every output check passed; 1 when
any failed (each is listed on standard error by operation name); 2 when
the program could not be built or run.
"""
import argparse
import hashlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("pipeline_daily", "query_mix")
OPS = {"query_mix": ["q01_pricing_summary", "q12_minhash_pairs"]}
END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "heap_after_gc_mb": "MB"}

def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    m = {"engine.task_cpu_s": "s", "engine.gc_s": "s", "engine.input_bytes": "B",
         "engine.shuffle_write_bytes": "B", "engine.spill_bytes": "B",
         "engine.stages": "count", "engine.tasks": "count",
         "sources.scan_s": "s", "sources.records": "count",
         "ingest.parse_s": "s", "ingest.drain_s": "s", "ingest.commit_ms": "ms",
         "ingest.rows_degraded": "count",
         "merge.season_read_s": "s", "merge.upsert_s": "s", "merge.publish_s": "s",
         "merge.rows_in": "count", "merge.rows_out": "count"}
    for q in OPS["query_mix"]:
        m.update({f"query.{q}.cold_s": "s", f"query.{q}.warm_s": "s",
                  f"query.{q}.planning_s": "s", f"query.{q}.input_bytes": "B",
                  f"query.{q}.stages": "count"})
    m.update({"ops.cache_builds_cold": "count", "ops.cache_builds_warm": "count"})
    m.update({"streaming.triggers": "count", "bench.trace_overhead_frac": "ratio",
              "host.calib_s": "s", "host.steal_frac": "ratio"})
    return m


# Sizes are set so that a run lasts about a minute on 4 cores: the queries
# read scale-0.01 tables, the season holds 40 game dates, and there are
# more daily slates than a run gets through.
SCALE = 0.01
SEASON_DATES = 40
MAX_DAYS = 12
SETUP_REPS = 3
# warm passes per run at least (more if --seconds has not passed yet)
MIN_WARM = {"pipeline_daily": 3, "query_mix": 6}
# a run ends (and its JVM is killed) this long after the build at the latest
RUN_BUDGET_S = 170


def cores():
    return len(os.sched_getaffinity(0))


def generate(workload, seed, data):
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    if workload == "pipeline_daily":
        p = gen.Pipeline(seed, SEASON_DATES, MAX_DAYS)
        p.write_season(os.path.join(data, "shots-2025.tgz"), "shots-2025.csv")
        p.write_segments(os.path.join(data, "segments"),
                         os.path.join(data, "daytopics"))
        return p
    gen.make_tables(data, seed, SCALE)
    return None


def jvm_cmd(classes, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cp = ":".join([classes] + build.spark_jars())
    # -UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")] +
            [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Djava.io.tmpdir={args['tmp']}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
             "graft.perfbench.Harness"] +
            [x for k, v in args.items() if k != "tmp" for x in (f"--{k}", str(v))])


# ------------------------------------------------------------------ checks

def load_local_verify(root):
    spec = importlib.util.spec_from_file_location(
        "local_verify", os.path.join(root, "tools", "local_verify.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(root, data, outputs, ops, corrupt):
    """Each op's dumped output against its DuckDB oracle on the same
    tables, with tools/local_verify.py's comparison rules. Returns
    {op: reason} for every op that does not match."""
    import duckdb
    lv = load_local_verify(root)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for op in ops:
        sql = outputs["oracle_sql"].get(op)
        d = os.path.join(outputs["out_dir"], op)
        if op in outputs["dump_errors"]:
            bad[op] = "output dump failed: " + outputs["dump_errors"][op]
            continue
        if not os.path.isdir(d):
            bad[op] = "no output (every call failed)"
            continue
        try:
            mine = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
            if sql is None:
                mine.sort_values(by=list(mine.columns))
                continue
            want = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            bad[op] = f"oracle error: {e}"
            continue
        kinds = [{c: df[c].dtype.kind for c in df.columns} for df in (mine, want)]
        dtype_bad = [c for c in kinds[0] if c in kinds[1]
                     and {kinds[0][c], kinds[1][c]} == {"i", "f"}]
        a = lv.canon(list(mine.itertuples(index=False, name=None)), list(mine.columns))
        b = lv.canon(list(want.itertuples(index=False, name=None)), list(want.columns))
        if op == corrupt:
            b = b[:-1]
        if dtype_bad:
            bad[op] = f"int-vs-float dtype divergence on {dtype_bad}"
        elif a[0] != b[0]:
            bad[op] = f"columns {a[0]} vs {b[0]}"
        elif a != b:
            diff = sum(1 for x, y in zip(a[1:], b[1:]) if x != y)
            bad[op] = f"rows {len(a) - 1} vs {len(b) - 1}, {diff} differing"
    con.close()
    return bad


def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def read_tgz_csv(path):
    import csv
    with tarfile.open(path, "r:gz") as tar:
        m = next(x for x in tar.getmembers() if x.isfile() and x.name.endswith(".csv"))
        text = tar.extractfile(m).read().decode("utf-8")
    rows = list(csv.reader(io.StringIO(text)))
    return rows[0], rows[1:]


def check_pipeline(pipeline, outputs, work_root, seed, corrupt):
    """The published season against the generator's own records."""
    bad = {}
    days = outputs["days_run"]
    if days < 1:
        return {"daily_run": "no day completed"}
    expected, stale = pipeline.expected(days)
    header, rows = read_tgz_csv(outputs["published"])
    if header != gen.SEASON_COLS:
        bad["daily_run: header"] = f"{header} != {gen.SEASON_COLS}"
        return bad
    got = {}
    for r in rows:
        got.setdefault((r[0], r[9], r[10]), []).append((r[6], r[7]))
    if corrupt == "daily_run":
        expected = dict(expected)
        expected[("corrupt", "0:00.0", "9")] = ("0", "0")
    if set(got) != set(expected):
        bad["daily_run: published key set"] = (
            f"{len(set(got) - set(expected))} unexpected, "
            f"{len(set(expected) - set(got))} missing")
    if len(rows) != len(expected):
        bad["daily_run: row count"] = f"{len(rows)} rows, expected {len(expected)}"
    wrong = sum(1 for k, v in expected.items() if k in got and got[k][0] != v)
    if wrong:
        bad["daily_run: replayed x/y"] = f"{wrong} keys do not carry the delta's x/y"
    # the same seed and number of days must publish the same bytes in
    # every run on this checkout
    digest = sha256(outputs["published"])
    dd = os.path.join(work_root, "digests")
    os.makedirs(dd, exist_ok=True)
    ref = os.path.join(dd, f"pipeline_daily-{seed}-{days}.sha256")
    if os.path.exists(ref):
        with open(ref) as f:
            if f.read().strip() != digest:
                bad["daily_run: artifact sha256 across runs"] = "differs from an earlier run"
    else:
        with open(ref, "w") as f:
            f.write(digest)
    print(f"pipeline_daily: {days} days, {len(rows)} published rows, "
          f"{stale} keys kept an older replay's x/y (in-delta tie-break)",
          file=sys.stderr)
    return bad


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        classes = build.ensure_built(root)
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        print(f"perfbench: cannot build graft: {e}", file=sys.stderr)
        return 2
    t0 = time.time()
    work_root = os.path.join(root, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    # set-up is repeated and its median kept; the JVM start is paid once
    gen_s = []
    for _ in range(SETUP_REPS):
        g0 = time.time()
        pipeline = generate(a.workload, a.seed, data)
        gen_s.append(time.time() - g0)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = jvm_cmd(classes, {
        "workload": a.workload, "data": data, "work": os.path.join(work, "run"),
        "seconds": a.seconds, "trace": a.trace, "seed": a.seed, "cores": cores(),
        "min-warm": MIN_WARM[a.workload], "result": result_file,
        "ops": ",".join(OPS.get(a.workload, [])),
        "tmp": os.path.join(work, "tmp")})
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, RUN_BUDGET_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result_file):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        print(f"perfbench: harness exited with {rc}\n{tail}", file=sys.stderr)
        return 2
    with open(result_file) as f:
        res = json.load(f)

    corrupt = os.environ.get("PERFBENCH_CORRUPT_EXPECTED")
    failures = {f["op"]: f["error"] for f in res["failures"]}
    if a.workload == "pipeline_daily":
        checks = check_pipeline(pipeline, res["outputs"], work_root, a.seed, corrupt)
    else:
        checks = check_queries(root, data, res["outputs"], OPS[a.workload], corrupt)
    failures.update({k: "output check: " + v for k, v in checks.items()})
    un = res.get("unattributed") or {}
    if a.trace and any(un.values()):
        failures["trace attribution"] = f"unattributed events {un}"
    attempted = res["attempted"]
    failed = len(failures)

    setup_s = (res["first_call_ms"] / 1000.0 - t0) - (sum(gen_s) - statistics.median(gen_s))
    e2e = dict(res["end_to_end"], setup_s=setup_s)
    if a.trace:
        units = per_layer_units()
        layers = res["per_layer"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}

    for k, v in sorted(failures.items()):
        print(f"FAIL {k}: {v}", file=sys.stderr)
    print(f"# {a.workload} seed={a.seed} trace={a.trace} cores={cores()} "
          f"passes={res['passes']} timed_s={res['timed_s']:.2f} "
          f"host_calib_s={res['host_calib_s']:.4f} "
          f"host_steal_frac={res['host_steal_frac']:.3f} gen_s={[round(x, 3) for x in gen_s]}")
    # printed with the metrics but not bounded ones: cpu_s swings with the
    # host's load (CPU seconds inflate when the host is contended), and
    # failed_frac is 0 on a correct run and travels as failed/attempted
    shown = dict(metrics)
    if not a.trace:
        shown["cpu_s"] = {"value": res["end_to_end"]["cpu_s"], "unit": "s"}
        shown["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    for k, m in shown.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    for op in sorted({c["op"] for c in res["calls"]}):
        cs = [c for c in res["calls"] if c["op"] == op and not c["traced"]]
        cold = [c["wall_s"] for c in res["calls"] if c["op"] == op and c["pass"] == 0]
        warm = [c["wall_s"] for c in cs if c["pass"] > 0]
        print(f"# {op}: cold {cold[0] if cold else 0:.3f} s, warm median "
              f"{statistics.median(warm) if warm else 0:.3f} s over {len(warm)} calls")
    # the run's record (per-call times, spans) outlives its scratch files
    keep = os.path.join(work_root, "last")
    os.makedirs(keep, exist_ok=True)
    for src, name in ((result_file, "result"), (result_file + ".spans.json", "spans")):
        if os.path.exists(src):
            shutil.copyfile(src, os.path.join(keep, f"{a.workload}-trace{a.trace}.{name}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
