#!/usr/bin/env python3
"""Repo benchmark: one command, two workloads, one JVM per run.

    python3 perfbench/run.py --workload ads_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source with sbt (perfbench/build.sbt) into `.bench_build/`;
later runs reuse the build while the sources are unchanged. Each run
generates its inputs from `--seed` (perfbench/gen.py), runs the workload
in a closed loop for `--seconds` (perfbench/src, `perfbench.Main`),
checks every output outside the timed region, and prints a report line
followed by the result line, the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (spans, Spark listener counts). See
perfbench/README.md for the workloads, the metrics and their sizes.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# the tables each workload reads; sizes and the workloads' shape are
# described in README.md
WORKLOADS = {
    "ads_daily": ("region", "part", "orders", "lineitem", "events"),
    "corpus_admission": ("documents",),
}
JVM_HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def file_hash(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def source_stamp(root):
    """Hash of every source the build compiles."""
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile the engine and the benchmark unless the build is current;
    returns the runtime classpath."""
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "sbt", "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the benchmark")
    env = dict(os.environ, BENCH_BUILD_DIR=out)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}", "compile", "writeClasspath"]
    log("building: " + " ".join(cmd))
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {p.returncode})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def java_cmd(classpath, out):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = [java, f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={tmp}"]
    for p in opens:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return args + ["-cp", classpath, "perfbench.Main"]


def oracle_failures(data_dir, check):
    """Compare every table the last refresh published with its DuckDB
    oracle over the same inputs; returns the names that differ."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("region", "part", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = []
    for t in check["oracle_tables"]:
        name, sql = t["name"], t["sql"]
        files = sorted(glob.glob(os.path.join(check["published_dir"], name, "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) \
                if files else None
            if got is None or sql is None:
                raise ValueError("no output" if got is None else "no oracle")
            exp = con.execute(sql).df()
            got = got.reindex(sorted(got.columns), axis=1)
            exp = exp.reindex(sorted(exp.columns), axis=1)
            if list(got.columns) != list(exp.columns) or len(got) != len(exp):
                raise ValueError(f"shape {got.shape} vs {exp.shape}")
            pd.testing.assert_frame_equal(got.reset_index(drop=True), exp.reset_index(drop=True),
                                          check_dtype=False, check_exact=True)
        except Exception as e:  # any mismatch or oracle error is a failed check
            log(f"oracle mismatch {name}: {str(e).splitlines()[0] if str(e) else type(e).__name__}")
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no engine sources under ./src/main/scala/graft: run from the root of a checkout")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)
    metric_units = declared_units(root)

    # inputs are cached per workload, seed and generator version
    gen_hash = file_hash(os.path.join(HERE, "gen.py"))[:12]
    data = os.path.join(out, "data", f"{a.workload}-seed{a.seed}-{gen_hash}")
    if not os.path.exists(os.path.join(data, "sizes.json")):
        import gen
        for old in glob.glob(os.path.join(out, "data", f"{a.workload}-*")):
            shutil.rmtree(old, ignore_errors=True)
        t0 = time.time()
        sizes = gen.generate(data, a.seed, WORKLOADS[a.workload])
        with open(os.path.join(data, "sizes.json"), "w") as fh:
            json.dump(sizes, fh)
        log(f"generated inputs in {time.time() - t0:.1f} s")
    sizes = json.load(open(os.path.join(data, "sizes.json")))

    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    args = {"workload": a.workload, "data": data, "work": work, "out": result_file,
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace}
    cmd = java_cmd(classpath, out)
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    load_before = os.getloadavg()
    p = subprocess.run(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=RUN_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM failed (exit {p.returncode})")
    r = json.load(open(result_file))

    attempted, failed = r["attempted"], r["failed"]
    main_kind = "arrival" if a.workload == "corpus_admission" else "refresh"
    unit_runs = r["units"]
    t_oracle = time.time()
    if main_kind == "refresh":
        bad = oracle_failures(data, r["check"])
        if bad:  # every refresh that published what the last one did is wrong
            same = set(range(len(unit_runs))) - set(r["check"]["refreshes_differing_from_last"])
            failed += sum(1 for u in unit_runs if u["ok"] and u["index"] in same)
            r["check"]["oracle_mismatches"] = bad

    oracle_s = time.time() - t_oracle
    timed_main = [u for u in unit_runs if u["kind"] == main_kind and u["timed"] and u["ok"]]
    loop_units = [u for u in unit_runs if u["timed"] and u["ok"]]
    unit_s = statistics.median(u["seconds"] for u in timed_main) if timed_main else float("nan")
    if main_kind == "refresh":
        rows_per_s = r["prepared"]["input_rows"] / unit_s
    else:
        rows_per_s = sum(u["rows"] for u in timed_main) / sum(u["seconds"] for u in loop_units)
    # write_amp over the first whole cycle of timed units: a set the seed
    # fixes, so the figure does not depend on how many units fit in --seconds
    first = min((u["index"] for u in timed_main), default=0)
    amp_units = [u for u in loop_units if u["index"] < first + r["cycle"]]
    write_amp = sum(u["bytes_written"] for u in amp_units) / \
        max(1, sum(u["input_bytes"] for u in amp_units))
    live_heap = max(r["live_heap_mb"]) if r["live_heap_mb"] else float("nan")
    setup_s = statistics.median(r["setup_s"])

    # the workload's own metric names
    named = {"setup_s": (setup_s, "s"), "failed_frac": (failed / max(1, attempted), "ratio"),
             "write_amp": (write_amp, "B/B"), "live_heap_mb": (live_heap, "MB")}
    if main_kind == "refresh":
        named["refresh_s"] = (unit_s, "s")
        named["refresh_rows_per_s"] = (rows_per_s, "rows/s")
    else:
        xs = sorted(u["seconds"] for u in timed_main)
        named["arrival_p50_s"] = (unit_s, "s")
        named["admitted_docs_per_s"] = (rows_per_s, "docs/s")
        if len(xs) > 10:
            named["arrival_tail_s"] = (xs[len(xs) - 11], "s")
            named["arrival_tail_percentile"] = (100.0 * (len(xs) - 10) / len(xs), "%")
        named["store_bytes_per_doc"] = (r["check"]["store_bytes"] / r["check"]["store_docs"],
                                        "B/doc")
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "drift": {"job_floor_start_s": r["job_floor_start_s"],
                  "job_floor_end_s": r["job_floor_end_s"],
                  "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
                  "nproc": os.cpu_count(), "spark_cores": r["cores"], "seed": a.seed},
        "inputs": sizes, "prepared": r["prepared"],
        "phases_s": {"setup_reps": r["setup_s"], "prepare": r["prepare_s"],
                     "warmup": r["warmup_s"], "loop": r["loop_s"], "kernels": r["kernels_s"],
                     "check_jvm": r["check_s"], "check_oracle": oracle_s,
                     "run": time.time() - t_start},
        "units": [(u["kind"], u["index"], round(u["seconds"], 4), u["ok"]) for u in unit_runs],
        "check": {k: v for k, v in r["check"].items() if k != "oracle_tables"},
    }
    if a.trace:
        key = hashlib.sha256((source_stamp(root) + gen_hash).encode()).hexdigest()[:12]
        report["structural"] = structural_check(out, a.workload, a.seed, key, r)
        report["traced_units"] = r["traced_units"]
        with open(os.path.join(out, f"trace-{a.workload}-seed{a.seed}.json"), "w") as fh:
            json.dump({k: r[k] for k in ("spans", "jobs", "execs")}, fh)
    print(json.dumps(report))

    if a.trace:
        values = dict(r["layers"], **{
            "core.live_heap_mb": live_heap,
            "structural.unsteady_across_runs": report["structural"]["unsteady_across_runs"],
            "structural.units_compared_across_runs":
                report["structural"]["units_compared_across_runs"]})
        declared = metric_units["per_layer"]
    else:
        values = {"setup_s": setup_s, "unit_s": unit_s, "rows_per_s": rows_per_s,
                  "write_amp": write_amp}
        declared = metric_units["end_to_end"]
    missing = sorted(set(declared) - set(values))
    if missing:
        fail(f"metrics declared in BENCHMARK.json but not measured: {missing}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in declared.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def declared_units(root):
    """The unit of every metric, as BENCHMARK.json declares it:
    {"end_to_end": {name: unit}, "per_layer": {name: unit}}."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def structural_check(out, workload, seed, key, r):
    """Compare this traced run's structural counts with an earlier traced
    run of the same workload and seed in this checkout, unit by unit. The
    earlier counts are kept per `key` (a hash of the sources and the
    generator), so a change to either starts a new baseline instead of
    reading as unsteady; until a second run compared it,
    `units_compared_across_runs` is 0 and nothing is evidenced."""
    path = os.path.join(out, "structural", f"{workload}-seed{seed}-{key}.json")
    now = r["structural"]
    unsteady, compared = [], 0
    if os.path.exists(path):
        before = json.load(open(path))
        for unit, counts in now.items():
            if unit in before:
                compared += 1
                unsteady += [f"{unit}.{k}" for k, v in counts.items() if before[unit].get(k) != v]
    else:
        for old in glob.glob(os.path.join(out, "structural", f"{workload}-seed{seed}-*.json")):
            os.remove(old)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(now, fh)
    return {"units_compared_across_runs": compared, "unsteady_across_runs": len(unsteady),
            "unsteady": unsteady[:20], "unsteady_within_run": r["unsteady_within_run"]}


if __name__ == "__main__":
    main()
