#!/usr/bin/env python3
"""Benchmark runner for eventsgatewayspark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library and the benchmark program from source (perfbench/build.sbt)
when the sources changed, runs one workload in a fresh JVM on local[nproc],
checks its outputs (generator bookkeeping in the JVM, DuckDB oracles here),
prints every metric by name with its unit, and prints as the last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 1
the metrics are the per-layer ones and a trace artifact (layer metrics,
spans, tracing overhead) is written under perfbench/out/.

Exit status: 0 when every output is correct, 1 otherwise, 2 when the
program cannot be built or run.
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
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build compiles or is configured by."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build():
    """Compile when the sources changed; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no library sources next to the benchmark; nothing to build")
        sys.exit(2)
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    home = spark_home()
    if home:
        env["SPARK_HOME"] = home
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the library and the benchmark program (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def heap():
    """Heap of the benchmark JVM: a quarter of memory, between 2 and 4 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def run_jvm(cp, workload, seed, seconds, trace, work):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap keeps peak RSS from following the collector's resizing
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
            "1" if trace else "0", work, out]
    t_jvm = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        output, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"{workload}: benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    for line in output.splitlines():
        if "[perfbench]" in line or "Exception" in line or "Error" in line:
            sys.stderr.write(line + "\n")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(output[-4000:])
        log(f"{workload}: benchmark JVM exited with {proc.returncode}")
        return None
    with open(out) as f:
        rec = json.load(f)
    log(f"{workload}: benchmark JVM ran {time.time() - t_jvm:.1f} s")
    spans = out + ".spans.json"
    if os.path.exists(spans):
        with open(spans) as f:
            rec["spans"] = json.load(f)
    return rec


def run_oracles(rec):
    """Compare each registry result with its DuckDB oracle; returns the
    kinds that mismatched."""
    if not rec["oracles"]:
        return []
    import duckdb
    failed = []
    for o in rec["oracles"]:
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for table, path in o["tables"].items():
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        ok, detail = benchlib.compare_oracle(con, o["sql"], o["result"])
        con.close()
        rec["checks"].append({"name": f"oracle.{o['name']}", "kind": o["kind"],
                              "ok": ok, "detail": "" if ok else detail})
        if not ok:
            log(f"oracle mismatch {o['name']}: {detail}")
            failed.append(o["kind"])
    return failed


def one(cp, workload, seed, seconds, trace):
    """Run one workload; returns (correct, attempted, failed, metrics)."""
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"run-{os.getpid()}-{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(cp, workload, seed, seconds, trace, work)
        if rec is None:
            return None
        failed_kinds = [c["kind"] for c in rec["checks"] if not c["ok"]]
        failed_kinds += run_oracles(rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for c in rec["checks"]:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    phase = rec["phase"]
    attempted, failed = benchlib.failure_counts(phase["ops"], phase["errors"], failed_kinds)
    if workload == "selftest":
        attempted = max(attempted, len(rec["checks"]))
        return failed == 0, attempted, failed, {}
    e2e, p_tail = benchlib.end_to_end(rec)
    n = len(phase["samples_ms"])
    aliases = benchlib.ALIASES.get(workload, {})
    print(f"== {workload} seed={seed} seconds={seconds} cores={rec['cores']} "
          f"operations={n} setup={ {k: round(v, 3) for k, v in rec['setup'].items()} }")
    for name, unit in benchlib.END_TO_END.items():
        label = f"  ({aliases[name]})" if name in aliases else ""
        extra = f"  [p{p_tail} of {n} samples]" if name == "latency_tail_ms" else ""
        if name == "latency_p50_ms":
            extra = f"  [{n} samples]"
        print(f"{name:>20} {e2e[name]:14.4f} {unit}{label}{extra}")
    print(f"{'failed_ratio':>20} {failed / max(1, attempted):14.4f} ratio"
          f"  ({failed} of {attempted} operations)")
    if not trace:
        metrics = {k: {"value": v, "unit": benchlib.END_TO_END[k]} for k, v in e2e.items()}
    else:
        layers = benchlib.per_layer(rec)
        metrics = {k: {"value": v, "unit": benchlib.PER_LAYER[k]} for k, v in layers.items()}
        for k, v in layers.items():
            print(f"{k:>30} {v:16.4f} {benchlib.PER_LAYER[k]}")
        traced_tput = (rec.get("traced_phase") or {}).get("throughput_per_s", 0)
        artifact = os.path.join(OUT, f"trace-{workload}-seed{seed}.json")
        with open(artifact, "w") as f:
            json.dump({"workload": workload, "seed": seed, "seconds": seconds,
                       "untraced_throughput_per_s": e2e["throughput_per_s"],
                       "traced_throughput_per_s": traced_tput,
                       "tracing_overhead_pct": layers["trace.overhead_pct"],
                       "per_layer": metrics, "end_to_end_untraced": e2e,
                       "setup": rec["setup"], "notes": rec["notes"],
                       "spans": rec.get("spans", [])}, f, indent=1)
        print(f"tracing overhead {layers['trace.overhead_pct']:.2f}% "
              f"(untraced {e2e['throughput_per_s']:.2f}/s, traced {traced_tput:.2f}/s); "
              f"trace artifact {os.path.relpath(artifact, ROOT)}")
    return failed == 0, attempted, failed, metrics


def selftest(cp):
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(stream=sys.stderr, verbosity=1).run(suite).wasSuccessful()
    res = one(cp, "selftest", 0, 1, False)
    passed = ok and res is not None and res[0]
    print(f"selftest: {'passed' if passed else 'FAILED'}")
    return passed


def main():
    # on SIGTERM, unwind so the benchmark JVM is killed and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=list(benchlib.ALIASES) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    cp = build()
    if a.selftest:
        sys.exit(0 if selftest(cp) else 1)
    names = benchlib.WORKLOADS if a.workload == "all" else [a.workload]
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in names:
        res = one(cp, w, a.seed, a.seconds, bool(a.trace))
        if res is None:
            sys.exit(2)
        ok, att, fail, m = res
        correct, attempted, failed = correct and ok, attempted + att, failed + fail
        metrics.update({(f"{w}.{k}" if len(names) > 1 else k): v for k, v in m.items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
