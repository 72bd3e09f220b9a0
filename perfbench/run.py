#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check.

    python3 perfbench/run.py --workload kv_oltp --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (cached by a hash of the sources); each run then
generates its tables from the seed, runs the JVM side (perfbench.Main),
checks the query workloads' results against the DuckDB oracle with the
canonical row comparison of tools/check.py, prints a report, and prints
one JSON object as the last line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Table scale per workload (fraction of TPC-H sf1; see README.md).
SCALE = {"kv_oltp": 0.1, "iterative_cdc": 0.001}
HEAP, YOUNG = "3g", "1g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles engine + benchmark once per source state; returns classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("sources") == digest:
            return cached["classpath"]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [ln.strip() for ln in f]
    cps = [ln for ln in lines if ln.startswith("/") and ":" in ln and "classes" in ln]
    if rc != 0 or not cps:
        die(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cps[-1]}, f)
    return cps[-1]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def run_jvm(classpath, args, work, log):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and a fixed young generation: with G1 sizing the young
    # generation itself, the upsert latency of kv_oltp fell into one of two
    # modes 20% apart from run to run; with the size fixed it did not
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die("interrupted")
        # the JVM runs in its own session, so stop it when this script is stopped
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"JVM run exceeded {RUN_LIMIT_S} s; see {log}")
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)


def oracle_check(data, results, oracle):
    """Compares each checked query's result with DuckDB's answer to its
    oracle SQL; returns the names that differ, with the reason."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import TABLES, norm
    con = duckdb.connect()
    # bounded, so that a runaway oracle fails instead of exhausting memory
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            odf = con.sql(sql).df()
            sdf = con.sql(f"SELECT * FROM '{results}/{name}/*.parquet'").df()
        except Exception as e:  # a missing result or an oracle error
            bad[name] = str(e).splitlines()[0][:200]
            continue
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            bad[name] = f"schema {scols} vs oracle {ocols}"
            continue
        o = sorted(tuple(norm(v) for v in r) for r in odf[ocols].itertuples(index=False))
        s = sorted(tuple(norm(v) for v in r) for r in sdf[scols].itertuples(index=False))
        if o != s:
            bad[name] = f"{len(s)} rows vs oracle {len(o)}; first diff " + str(
                next(((a, b) for a, b in zip(o, s) if a != b), None))[:200]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("no engine sources next to the benchmark; run from a full checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build_dir, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(out)
    sys.path.insert(0, HERE)
    import gen
    t0 = time.time()
    gen.write(data, a.seed, SCALE[a.workload])
    gen_s = time.time() - t0

    log = os.path.join(build_dir, f"{tag}.log")
    t0, cpu0 = time.time(), cpu_times()
    rc = run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--out", out], work, log)
    result_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        die(f"JVM run failed (exit {rc}); see {log}")
    with open(result_file) as f:
        res = json.load(f)

    jvm_s, cpu1 = time.time() - t0, cpu_times()
    # the share of CPU time the hypervisor gave to other guests: a run on a
    # contended host reads slow without any change to the program
    steal = (f"{(cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0)):.1%}"
             if cpu0 and cpu1 and len(cpu0) > 7 else "n/a")
    t0 = time.time()
    bad = oracle_check(data, os.path.join(out, "results"), res["oracle"])
    oracle_s = time.time() - t0
    attempted = res["attempted"]
    failed = res["failed"] + len(bad)
    failures = res["failures"] + [f"{q}: oracle mismatch: {m}" for q, m in bad.items()]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    measured = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {k: measured[k] for k in names if k in measured}
    missing = [k for k in names if metrics.get(k, {}).get("value") is None]

    keep = os.path.join(build_dir, "reports")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"{tag}.json"), "w") as f:
        json.dump(dict(res, oracle_failures=bad, gen_s=gen_s, cpu_steal=steal), f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(keep, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"scale=sf{SCALE[a.workload]}; tables {gen_s:.1f} s, jvm {jvm_s:.1f} s, "
          f"oracle {oracle_s:.1f} s; cpu steal {steal}")
    print(f"  ops attempted {attempted}, failed {failed}, "
          f"fail_ratio {failed / max(1, attempted):.4f}")
    for msg in failures[:20]:
        print(f"  FAIL {msg}")
    for k, v in res["setup"].items():
        print(f"  setup.{k} = {v}")
    for k, v in metrics.items():
        print(f"  {k:24s} {v['value']!s:>22} {v['unit']:6s} n={v['n']}")
    if missing:
        die(f"no value for {missing}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
