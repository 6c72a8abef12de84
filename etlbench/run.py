#!/usr/bin/env python3
"""Benchmark of the extract pipeline and the dedup funnels.

Runs one workload against the library's public entry points on a local
Spark session with 4 threads, checks every op's output, and prints one
JSON line last:

    python3 etlbench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

Workloads (see BENCHMARK.json): backfill, head_follow, dedup_funnels.
`--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer ones. The line before the last holds the detail: sample
counts, the tail percentile, failures and oracle results.

Run from the repository root. The first run compiles (see build.py).
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 165
CORES = 4
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(args, work):
    report = os.path.join(work, "report.json")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # C1 only: with C2, op times on 4 cores keep falling for 30+ head ticks
    # while compiler threads compete with the 4 task threads, so a short
    # run would time a moving target. A fixed heap: a growing one makes
    # VmHWM and the op times spread with GC timing. No memory figure held
    # still enough to gate (RESULTS.md); VmHWM and the heap retained after
    # the run are on the detail line.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graft.bench.EtlBench", args.workload,
            str(args.seed), str(args.seconds), str(args.trace), work, report]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                               env=env, cwd=ROOT, timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(report):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(report) as fh:
        return json.load(fh)


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def oracle_check(entries):
    """Compare each Spark output with its DuckDB oracle SQL over the same
    generated documents. Returns {name: (ok, spark_fp, oracle_fp, seconds)}."""
    if not entries:
        return {}
    import duckdb
    import pandas as pd
    out = {}
    for e in entries:
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{e['documents']}')")
        spark_df = pd.read_parquet(e["dir"])
        t0 = time.time()
        oracle_df = con.execute(e["sql"]).fetchdf()
        con.close()
        dt = time.time() - t0
        fps = [stats.fingerprint(list(df.columns),
                                 list(df.itertuples(index=False, name=None)))
               for df in (spark_df, oracle_df)]
        out[e["name"]] = (fps[0] == fps[1], fps[0], fps[1], dt)
    return out


STEAL_LIMIT = 0.05
PROBE_REPS = 5  # EtlBench's probes report a median of five noop writes
MIN_TIMED = 3


def steal_of(op):
    return op["layers"].get("cpu_steal_share", 0.0)


def quiet(ops):
    """The ops to time: those during which the hypervisor stole at most
    STEAL_LIMIT of the machine's CPU (another tenant's load says nothing
    about this program), or the MIN_TIMED least-stolen ones if fewer."""
    q = [o for o in ops if steal_of(o) <= STEAL_LIMIT]
    return q if len(q) >= MIN_TIMED else sorted(ops, key=steal_of)[:MIN_TIMED]


def layer_metrics(ops, rep, names):
    """Per-op medians of the layer counters over the timed ops, plus the
    probes; returns (values, sample counts)."""
    vals, n = {}, {}
    for o in ops:
        if o["rows"] > 0 and "sources.records_read" in o["layers"]:
            o["layers"]["sources.rows_read_per_row_written"] = (
                o["layers"]["sources.records_read"] / o["rows"])
    for name in names:
        xs = [o["layers"][name] for o in ops if name in o["layers"]]
        if xs:
            vals[name], n[name] = stats.median(xs), len(xs)
    for name, v in rep["probes"].items():
        vals[name], n[name] = v, PROBE_REPS
    return vals, n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = spec()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")
    build_s = build.build()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_gen = time.time()
    if args.workload in ("backfill", "head_follow"):
        gen.subgraph(os.path.join(work, "in"), args.seed)
    else:
        gen.documents(os.path.join(work, "in"), args.seed)
    gen_s = time.time() - t_gen
    ticks0 = cpu_ticks()
    try:
        rep = run_jvm(args, work)
        oracle = oracle_check(rep["oracle"])
    finally:
        keep = os.path.join(HERE, ".work", f"last-{args.workload}-trace{args.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("report.json", "spans.json", "jvm.log"):
            if os.path.exists(os.path.join(work, f)):
                shutil.move(os.path.join(work, f), keep)
        shutil.rmtree(work, ignore_errors=True)

    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    failures = list(rep["failures"])
    bad_faces = set()
    for name, (ok, sfp, ofp, _) in oracle.items():
        if not ok:
            failures.append(f"{name}: spark {sfp} != oracle {ofp}")
            bad_faces.add(name)
    ops = rep["ops"]
    for o in ops:
        if o["tag"].split("#")[0] in bad_faces:
            o["ok"] = False
    good = [o for o in ops if o["ok"]]
    attempted, failed = len(ops), len(ops) - len(good)
    timed = quiet(good)
    times = [o["s"] for o in timed]
    setup_s = rep["first_op_epoch_ms"] / 1e3 - T_START - build_s
    e2e = {}
    if times:
        e2e["setup_s"] = setup_s
        e2e["rows_per_s"] = sum(o["rows"] for o in timed) / sum(times)
        e2e["op_p50_s"] = stats.median(times)
        if rep["output_rows"] > 0:
            e2e["output_bytes_per_row"] = rep["output_bytes"] / rep["output_rows"]
    t = stats.tail(times)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": attempted, "ops_ok": len(good), "ops_timed": len(timed),
        "failed_ratio": failed / attempted if attempted else 1.0,
        "peak_rss_mb": rep["peak_rss_mb"],
        "retained_heap_mb": rep["retained_heap_mb"],
        "op_tail_s": ({"value": t[0], "percentile": t[1], "n": t[2]}
                      if t else None),
        "setup_parts": {"build_s": build_s, "gen_s": gen_s,
                        **rep["notes"]},
        "oracle": {k: {"ok": v[0], "spark": v[1], "oracle": v[2],
                       "seconds": round(v[3], 3)}
                   for k, v in oracle.items()},
        "op_s": [round(o["s"], 4) for o in ops],
        "op_steal": [round(steal_of(o), 3) for o in ops],
        "cpu_steal_share": round(steal, 4),
        "span_self_s": rep["span_self_s"],
        "failures": failures[:20],
    }
    counts = {"op_p50_s": len(times), "rows_per_s": len(times)}
    if args.trace:
        names = [m["name"] for m in bench["per_layer"]]
        vals, counts = layer_metrics(timed, rep, names)
        vals["trace.op_p50_s"] = e2e.get("op_p50_s", 0.0)
        vals["trace.setup_s"] = setup_s
        counts["trace.op_p50_s"] = len(times)
        wanted = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        vals = e2e
        wanted = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    # a layer this workload never reaches reads 0 with 0 samples
    metrics = {n: {"value": float(vals.get(n, 0.0)), "unit": u}
               for n, u in wanted.items()}
    detail["samples"] = {n: counts.get(n, 1 if n in vals else 0) for n in wanted}
    correct = failed == 0 and not failures and (
        bool(args.trace) or all(n in vals for n in wanted))
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
