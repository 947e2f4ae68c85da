#!/usr/bin/env python3
"""Benchmark for the graft pipeline and query sweep.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload build_long --seed 1 --seconds 10 --trace 0

Workloads: build_long (Pipeline.run over a corpus generated from the seed) and
sweep (the SparkEntry queries outside the kg_pipeline family over the fixed
sf0.1 tables; no seed). With --trace 0 the last stdout line carries the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run. See
perfbench/README.md.

The program is compiled from src/main/scala with the Scala compiler shipped
in the Spark distribution; build output, generated corpora and per-run
scratch directories live under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("build_long", "sweep")
# the fixed sweep tables; SPARK_GRAFT_SF_DIR overrides, as for graft.Bench
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        str(pathlib.Path.home() / "testdata" / "sf0.1"))
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "4g"
# Metrics the JVM reports beside the BENCHMARK.json ones, printed as comments.
EXTRA_UNITS = {"job_s": "s", "job_cpu_s": "s", "calib_s": "s", "turns_per_s": "turns/s",
               "cpu_s_per_mturn": "s", "peak_rss_mb": "MB"}

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one that holds the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = pathlib.Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler at {jars}")
    return f"{jars}/*"


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        fail("no program sources under src/main/scala: run from a source checkout")
    return main, sorted((BENCH / "scala").glob("*.scala"))


def scalac(jars, classpath, out, files):
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-cp", classpath] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        fail(f"compilation into {out} failed")


def build(jars):
    """Compile the program, then the benchmark against it; reuse a build
    whose sources are unchanged."""
    main, bench = sources()
    h = hashlib.sha256()
    for f in main + bench:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()[:16]
    out = BUILD / f"classes-{stamp}"
    if (out / "DONE").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old)
    scalac(jars, jars, out / "main", main)
    scalac(jars, f"{out / 'main'}:{jars}", out / "bench", bench)
    (out / "DONE").write_text(stamp)
    return out


def box_info():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "loadavg": load, "commit": commit}


def steal_ticks():
    """Jiffies the hypervisor gave to other guests, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_jvm(args, classes, jars, box, run_dir):
    """Launch the benchmark JVM with its own empty scratch dirs and return
    its result record."""
    for d in ("tmp", "spark-local", "stream"):
        (run_dir / d).mkdir(parents=True)
    result = run_dir / "result.json"
    flags = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cp = f"{classes / 'bench'}:{classes / 'main'}:{jars}"
    env = dict(os.environ, GRAFT_STREAM_SCRATCH=str(run_dir / "stream"))
    steal0 = steal_ticks()
    launch_ms = int(time.time() * 1000)
    cmd = ["java"] + flags + ["-cp", cp, "graftbench.Main", args.workload,
           str(args.seed), str(args.trace), str(box["nproc"]), str(run_dir), SF_DIR,
           str(launch_ms), str(result)]
    box["jvm_flags"] = flags
    log = open(run_dir / "jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         start_new_session=True)
    try:
        p.wait(timeout=JVM_TIMEOUT_S)
    except BaseException as e:
        # timeout or interrupt: the JVM must not outlive this process
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
        raise
    finally:
        log.close()
    wall = time.time() - launch_ms / 1000
    # CPU the hypervisor gave to other guests while this JVM ran, as a share
    # of the box's capacity: a busy host slows every metric.
    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    box["steal_frac"] = round(steal_s / (box["nproc"] * wall), 4)
    if not result.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"benchmark JVM exited {p.returncode} without a result")
    rec = json.loads(result.read_text())
    rec["exit_code"] = p.returncode
    return rec


def oracle_counts(oracle_sql):
    """Row count of every oracle query, by DuckDB over the sf parquet tables.
    Counts are cached under .bench_build keyed by the SQL text and the
    tables' paths, sizes and mtimes, so a change to either recomputes them."""
    tables = sorted(pathlib.Path(SF_DIR).glob("*.parquet"))
    h = hashlib.sha256(json.dumps(sorted(oracle_sql.items())).encode())
    for p in tables:
        st = p.stat()
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    cache = BUILD / f"oracle-{h.hexdigest()[:16]}.json"
    if cache.exists():
        return json.loads(cache.read_text())
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for p in tables:
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    counts = {q: con.execute(f"SELECT count(*) FROM ({sql}) AS oracle").fetchone()[0]
              for q, sql in oracle_sql.items()}
    for old in BUILD.glob("oracle-*.json"):
        old.unlink()
    cache.write_text(json.dumps(counts))
    return counts


def oracle_check(rec):
    """Names of the sweep queries whose row count, in any pass, differs from
    the DuckDB oracle's; a query without oracle SQL must return the same
    count in every pass."""
    want = oracle_counts(rec["oracle_sql"])
    bad = []
    for q, counts in sorted(rec["query_counts"].items()):
        if q in want:
            ok = all(c == want[q] for c in counts)
        else:
            ok = min(counts) >= 0 and len(set(counts)) == 1
        if not ok:
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    started = time.time()
    # turn SIGTERM into SystemExit so the JVM is killed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classes = build(jars)
    if args.workload == "sweep" and not pathlib.Path(SF_DIR, "orders.parquet").exists():
        fail(f"sweep input {SF_DIR} is missing")
    box = box_info()
    run_dir = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        rec = run_jvm(args, classes, jars, box, run_dir)
        if args.trace:
            (BUILD / "traces").mkdir(exist_ok=True)
            (BUILD / "traces" / f"{args.workload}-seed{args.seed}-spans.json").write_text(
                json.dumps(rec["spans"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = rec["checks"]
    failed, attempted = rec["failed"], rec["attempted"]
    if args.workload == "sweep":
        bad = oracle_check(rec)
        checks.append({"name": "oracle_row_counts", "value": len(bad), "ok": not bad})
        if bad:
            print(f"# oracle mismatch: {', '.join(bad)}")
        failed = max(failed, len(bad))

    # A configuration that asks for more cores than the box has, or a timed
    # region that used more CPU than the box can give, cannot be measured.
    reasons = []
    if rec["cores"] > box["nproc"]:
        reasons.append(f"session uses {rec['cores']} cores on a {box['nproc']}-cpu box")
    if rec["cpu_over_capacity"] > 1.02:
        reasons.append(f"process CPU was {rec['cpu_over_capacity']:.2f}x nproc x wall")
    box["valid"] = not reasons
    if reasons:
        box["reason"] = "; ".join(reasons)
    print("# box " + json.dumps(box))
    for n in rec["notes"]:
        print(f"# {n}")
    for c in checks:
        print(f"# check {c['name']} = {c['value']} {'ok' if c['ok'] else 'FAILED'}")
    if reasons:
        fail("measurement invalid: " + box["reason"])

    metrics = dict(rec["metrics"])
    if not args.trace:
        metrics["setup_s"] = rec["setup_s"]
    metrics["peak_rss_mb"] = rec["peak_rss_mb"]
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    listed = spec["per_layer" if args.trace else "end_to_end"]
    # A metric of a module this workload never calls reads 0: the traced run
    # did no work in it.
    out = {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
           for m in listed}
    for n, m in out.items():
        print(f"# {n} = {m['value']} {m['unit']}")
    for n, unit in EXTRA_UNITS.items():
        if n in metrics:
            print(f"# {n} = {metrics[n]} {unit}")
    print(f"# failed_frac = {failed / max(attempted, 1)} ratio ({failed}/{attempted})")
    print(f"# invocation_s = {time.time() - started:.1f} s")
    correct = rec["exit_code"] == 0 and failed == 0 and all(c["ok"] for c in checks)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
