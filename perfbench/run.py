#!/usr/bin/env python3
"""graft benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. On first use it builds the program and
the benchmark's own JVM package (perfbench/build.sbt) with sbt, offline, and
caches the classpath under perfbench/.out/. Each run then generates its inputs
from the seed, starts one JVM on a private state directory under
perfbench/.out/runs/, checks the outputs, deletes the directory, and prints
one JSON line last on stdout. See perfbench/README.md for the metrics.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
WORKLOADS = ("batch_serve", "stream_rainstorm")
JVM_TIMEOUT_S = 165
SETUP_REPEATS = 3

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_fingerprint():
    """Hash of every build input, so a changed source triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(classpath, work):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS] +
            ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=1g",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", classpath, "perfbench.Main"])


def build():
    """Compile and package with sbt once per source state. Returns the
    runtime classpath."""
    os.makedirs(OUT, exist_ok=True)
    cp_file, stamp_file = os.path.join(OUT, "classpath.txt"), os.path.join(OUT, "build.stamp")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = source_fingerprint()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == fp:
            return open(cp_file).read().strip()
        log("building the program and the benchmark with sbt")
        # Offline, and with sbt's own scratch files kept under .out.
        sbt_tmp = os.path.join(OUT, "sbt")
        os.makedirs(sbt_tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
                   SBT_OPTS=" ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
            "-Dsbt.ivy.home=" + os.path.join(sbt_tmp, "ivy2"),
            "-Djava.io.tmpdir=" + sbt_tmp, "-Djna.tmpdir=" + sbt_tmp,
            "-XX:-UsePerfData", "-Xmx2g"]))
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=840)
        lines = [l for l in proc.stdout.splitlines()
                 if os.path.join(HERE, "target") in l and not l.startswith("[")]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
            fail("sbt build failed")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(fp)
        return cp


def percentile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def oracle_gate(results_dir, tables_dir):
    """Compare each dumped result with its DuckDB oracle: columns sorted by
    name, rows sorted, floats equal to 1e-9 relative. Returns name -> reason
    for every mismatch."""
    import duckdb

    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in os.listdir(tables_dir):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(tables_dir, t)}'")

    def canon(cur):
        cols = [c[0] for c in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
        rows.sort(key=lambda r: [(v is None, repr(v) if not isinstance(v, (int, float)) else v)
                                 for v in r])
        return [cols[i] for i in order], rows

    def eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
        return a == b

    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            scols, srows = canon(con.execute(
                f"SELECT * FROM '{os.path.join(results_dir, name)}/*.parquet'"))
            ocols, orows = canon(con.execute(sql))
        except Exception as e:  # an oracle that cannot run fails its query
            bad[name] = f"compare error: {e}"
            continue
        if scols != ocols:
            bad[name] = f"columns {scols} != oracle {ocols}"
        elif len(srows) != len(orows):
            bad[name] = f"{len(srows)} rows != oracle {len(orows)}"
        elif not all(all(eq(x, y) for x, y in zip(a, b)) for a, b in zip(srows, orows)):
            bad[name] = "values differ from oracle"
    return bad, len(oracle)


def closed_loop_metrics(samples, excluded):
    """End-to-end figures of the closed loop from per-op timed samples.
    Query ops are named after the query; serving verbs `<index>.<verb>`."""
    kept = {k: v for k, v in samples.items() if k not in excluded and v}
    med = {k: statistics.median(v) for k, v in kept.items()}
    flat = [x for v in kept.values() for x in v]
    queries = {k: m for k, m in med.items() if "." not in k}

    def geo(xs):
        return math.exp(sum(math.log(x) for x in xs) / len(xs))

    def verbs(kind):
        return [x for k, v in kept.items() if "." in k and kind in k for x in v]

    return {
        "throughput_per_s": len(flat) / (sum(flat) / 1000.0),
        "latency_p50_ms": percentile(flat, 0.5),
        "latency_p90_ms": percentile(flat, 0.9),
        "op_geomean_ms": geo(list(med.values())),
    }, {
        "batch_pass_s": sum(queries.values()) / 1000.0,
        "batch_query_geomean_ms": geo(list(queries.values())),
        "serve_probe_p50_ms": percentile(verbs(".probe"), 0.5),
        "serve_probe_p90_ms": percentile(verbs(".probe"), 0.9),
        "serve_ingest_p50_ms": percentile(verbs(".append"), 0.5),
        "serve_delete_p50_ms": percentile(verbs(".delete"), 0.5),
        "serve_compact_p50_ms": percentile(verbs(".compact"), 0.5),
        "serve_build_s": sum(verbs(".build")) / 1000.0,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to the benchmark in {ROOT}")
    t_start = time.time()
    cores = len(os.sched_getaffinity(0))
    classpath = build()
    work = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s = 0.0
        jvm_args = []
        if a.workload == "batch_serve":
            import gen_tables
            times = []
            for i in range(SETUP_REPEATS):
                t0 = time.time()
                gen_tables.generate(os.path.join(work, "tables"), a.seed)
                times.append(time.time() - t0)
            gen_s = statistics.median(times)
            jvm_args = ["--tables", os.path.join(work, "tables")]
        launch = time.time()
        cmd = java_cmd(classpath, work) + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work] + jvm_args
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_path):
            fail(f"the benchmark JVM exited with code {code}")
        res = json.load(open(result_path))

        failures = dict(res["failures"])
        checks = dict(res["checks"])
        detail = dict(res["detail"])
        metrics = dict(res["metrics"])
        attempted = int(res["attempted"])
        if a.workload == "batch_serve":
            bad, n_oracle = oracle_gate(os.path.join(work, "results"),
                                        os.path.join(work, "tables"))
            failures.update({f"{q}#oracle": why for q, why in bad.items()})
            checks["oracle_match"] = not bad
            detail["oracle_checked"] = n_oracle
            if not a.trace:
                excluded = {k.split("#")[0] for k in failures}
                e2e, named = closed_loop_metrics(res["samples"], excluded)
                metrics.update(e2e)
                detail.update(named)
        failed = len(failures)
        setup_s = (res["session_ready_epoch_ms"] / 1000.0 - launch) + gen_s \
            + metrics.pop("setup_gen_s", 0.0)
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        if not a.trace:
            metrics.update(setup_s=setup_s, peak_rss_mb=res["peak_rss_mb"],
                           ops_ok_frac=1.0 - failed / max(1, attempted))
        missing = [m for m in units if not isinstance(metrics.get(m), (int, float))
                   or not math.isfinite(metrics[m])]
        if missing:
            fail(f"metrics not measured: {missing}")
        detail.update(wall_s=time.time() - t_start, setup_s=setup_s, cores=cores)
        for k, v in failures.items():
            log(f"FAILED {k}: {v}")
        for k, ok in checks.items():
            if not ok:
                log(f"CHECK FAILED {k}")
        if a.trace:
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            with open(os.path.join(OUT, "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "metrics": metrics,
                           "detail": detail, "checks": checks}, f, indent=1, sort_keys=True)
        print(json.dumps({"workload": a.workload, "detail": detail, "checks": checks},
                         sort_keys=True))
        print(json.dumps({
            "correct": all(checks.values()) and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
