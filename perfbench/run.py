#!/usr/bin/env python3
"""Repo benchmark: plays one workload's queries through GraftSession.

Usage (from the repository root):
    python3 perfbench/run.py --workload relational_stream --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source with the Scala compiler
shipped in $SPARK_HOME/jars (cached under .perfbench/build), runs the
workload in one JVM and two more JVMs that only set up, checks every
query's rows against its DuckDB oracle, and prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # a run writes nothing next to the sources
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402

# name -> (scale factor, query codes, warm-up passes after the check pass).
# Codes resolve to SparkEntry.queries keys by prefix. The seed only permutes
# the order within warm-up and warm passes; the cold and check passes run
# the codes in the order listed.
WORKLOADS = {
    "relational_stream": ("0.1", ["q05", "q13", "w01", "v08"], 3),
    "fits_small": ("0.001", ["s44", "s112"], 7),
}
SETUPS = 3  # session set-ups per run: the main JVM's and SETUPS - 1 set-up-only JVMs
SETUP_LIMIT_S = 40  # one set-up-only JVM
RUN_LIMIT_S = 170  # the whole invocation, build excluded

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
         "cpu_s": "s", "storage_peak_mb": "MiB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        fail("SPARK_HOME/jars holds no jars; the engine builds against them")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no src/main/scala sources here; run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build(root, work, jars):
    """Compile the engine plus the harness once per source state."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(work, "build", key)
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(os.path.join(work, "build"), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    with open(os.path.join(out, "sources.txt"), "w") as f:
        f.write("\n".join(srcs))
    with open(os.path.join(out, "build.log"), "w") as log:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-classpath", ":".join(jars), "@" + os.path.join(out, "sources.txt")],
            stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed; see {os.path.join(out, 'build.log')}")
    open(os.path.join(out, "ok"), "w").close()
    return out


def data_root(root):
    """Directory holding the sf0.001 / sf0.01 / sf0.1 parquet tables.

    $PERFBENCH_DATA overrides; otherwise it is the parent of the sf dirs
    the repository's TESTDATA.md lists."""
    if os.environ.get("PERFBENCH_DATA"):
        return os.environ["PERFBENCH_DATA"]
    try:
        with open(os.path.join(root, "TESTDATA.md")) as f:
            for line in f:
                cells = [c.strip().strip("`") for c in line.split("|")]
                if len(cells) > 2 and cells[2].rstrip("/").split("/")[-1].startswith("sf"):
                    return os.path.dirname(cells[2].rstrip("/"))
    except OSError:
        pass
    fail("cannot locate the test tables; set PERFBENCH_DATA")


def run_jvm(cmd, env, cwd, log_path, timeout):
    """Exit code of the JVM, or None when it ran out of time. The JVM never
    outlives this process, also when this process is terminated."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="comma-separated codes replacing the workload's list")
    args = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".perfbench")
    jars = spark_jars()
    build_dir = build(root, work, jars)
    t_start = time.time()

    sf, codes, warmup = WORKLOADS[args.workload]
    if args.queries:
        codes = args.queries.split(",")
    sf_dir = os.path.join(data_root(root), "sf" + sf)
    if not os.path.isdir(sf_dir):
        fail(f"missing test tables {sf_dir}")

    tmp = os.path.join(work, "tmp", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("java", "local", "check", "cwd"):
        os.makedirs(os.path.join(tmp, d))
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    raw_path = os.path.join(tmp, "raw.json")
    threads = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "local"))

    def harness(out, setup_only, limit):
        """Run one harness JVM writing `out`; returns its record."""
        cmd = (["java", "-XX:-UsePerfData", "-Xmx4g",
                f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", ":".join([os.path.join(build_dir, "classes")] + jars), "perfbench.Harness",
                  "--launch-ms", repr(time.time() * 1000.0), "--sf-dir", sf_dir,
                  "--queries", ",".join(codes), "--seconds", str(args.seconds),
                  "--warmup", str(warmup), "--setup-only", str(int(setup_only)),
                  "--seed", str(args.seed), "--trace", str(args.trace), "--threads", str(threads),
                  "--check-dir", os.path.join(tmp, "check"), "--out", out])
        log_path = os.path.join(out_dir, f"{args.workload}-jvm{'-setup' if setup_only else ''}.log")
        rc = run_jvm(cmd, env, os.path.join(tmp, "cwd"), log_path, limit)
        if rc != 0 or not os.path.exists(out):
            fail(f"harness exited with {rc}; see {log_path}")
        with open(out) as f:
            return json.load(f)

    try:
        raw = harness(raw_path, False, RUN_LIMIT_S - (time.time() - t_start) - 15 - SETUP_LIMIT_S)
        t_setups = time.time()
        # More set-ups, each in a fresh JVM: a session built twice in one
        # JVM costs a small fraction of the first build.
        raw["setups"] = [raw["setup_s"]] + [
            harness(os.path.join(tmp, f"setup{i}.json"), True, SETUP_LIMIT_S / (SETUPS - 1))["setup_s"]
            for i in range(1, SETUPS)]
        print(f"{SETUPS - 1} set-up-only JVMs {time.time() - t_setups:.1f} s")
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-raw.json"), "w") as f:
            json.dump(raw, f)
        t_check = time.time()
        check = oracle.check(os.path.join(tmp, "check"), sf_dir, raw["oracle"])
        print(f"output check {time.time() - t_check:.1f} s; "
              f"run {time.time() - t_start:.1f} s after the build")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    report(args, raw, check, out_dir)


def report(args, raw, check, out_dir):
    errors = {e["query"]: e["error"] for e in raw["execs"] if e["error"]}
    failed = sum(1 for e in raw["execs"] if e["error"])
    failed += sum(1 for q, r in check.items() if r != "ok" and q not in errors)
    attempted = len(raw["execs"])
    correct = failed == 0
    for q, r in sorted(check.items()):
        print(f"check {q}: {r}")
    for q, e in sorted(errors.items()):
        print(f"error {q}: {e}")
    e2e, counts = metrics.end_to_end(raw)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{counts['passes']} warm passes, query_n {counts['query_n']}, "
          f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    print("warm passes s: " + " ".join(f"{p['wall_s']:.3f}" for p in raw["passes"] if p["kind"] == "warm"))
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {UNITS[k]}")
    tail = counts["tail"]
    if counts["p90"] is not None:
        print(f"query_p90_s {counts['p90']:.6g} s")
    else:
        print(f"query_p90_s n/a: query_n {counts['query_n']} < {metrics.min_samples(0.9)}"
              + (f"; query_p{tail[0]}_s {tail[1]:.6g} s" if tail else ""))
    if args.trace:
        layers = metrics.exec_layers(raw)
        pl = metrics.per_layer(raw, layers)
        for k, v in pl.items():
            print(f"{k} {v:.6g} {unit_of(k)}")
        pq = metrics.per_query(layers)
        for f in ("driver_gap_s", "compile_s", "wait_s"):
            top = sorted(pq.items(), key=lambda kv: -kv[1][f])[:5]
            print(f"top5 {f}: " + ", ".join(f"{q} {d[f]:.3f}" for q, d in top))
        spans = metrics.attach_spark_spans(raw["spans"], raw["sqls"], raw["jobs"], raw["stages"])
        selft = metrics.self_times(spans)
        by_name = {}
        for s in spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selft[s["id"]] / 1e3
        print("span self time s: " + ", ".join(f"{k} {v:.3f}" for k, v in by_name.items()))
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
            json.dump({"end_to_end": e2e, "counts": counts, "per_layer": pl,
                       "per_query": pq, "self_time_s": by_name, "spans": spans}, f)
        values = pl
    else:
        values = e2e
    # the result line carries the metrics BENCHMARK.json declares
    with open("BENCHMARK.json") as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    result = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "B"
    return "count"


if __name__ == "__main__":
    main()
