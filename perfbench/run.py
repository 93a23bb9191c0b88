#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the proxspark engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run:
  1. compiles the program (src/main/scala) and the harness
     (perfbench/src/Harness.scala) with the Scala compiler that ships in the
     Spark distribution, into .bench_build/ (skipped when the sources are
     unchanged);
  2. generates the input tables from --seed (perfbench/gen.py);
  3. runs the harness in one JVM: an untimed check pass that also warms the
     JIT, then timed passes over fresh input paths for at least --seconds,
     two passes at least;
  4. compares every dumped output with its DuckDB twin using
     tools/selfcheck.py (and, for the pipeline, the gold tables with the
     twins of their queries run over that run's silver output);
  5. prints a report naming host, cores, SF, seed, pass count and sink, then
     one JSON line: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 the
per-layer metrics, from traced passes that alternate with untraced ones, and
the tracing overhead. Exits non-zero without a result line when the program
sources are missing or a step fails.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
SCALA = "2.13.17"


# Scale of the generated tables. At this scale an op's cost is mostly the
# per-job driver floor and the codecs' per-document work, as at sf0.1, and
# the runs of both workloads fit the benchmark's time budget.
SF = 0.01
CORES = 4
JVM_TIMEOUT_S = 165
HEAP = "3g"
# graft.Bench's JVM settings (build.sbt javaOptions), with a heap sized for
# the benchmark's scale instead of the 32g default. -XX:-UsePerfData keeps
# the JVMs from writing their counters file outside the checkout.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Gold tables checked against the twins of the queries that build them.
GOLD_TWINS = {
    "q08_fact_orders": "fact_orders", "q09_dim_date": "dim_date",
    "q10_dim_customer": "dim_customer", "q12_dim_region_nation": "dim_region_nation",
    "q27_dim_part": "dim_part", "q28_dim_review": "dim_review",
    "q29_dim_dispute": "dim_dispute",
}


def spark_jars():
    """The jars of the Spark distribution the program builds against:
    $SPARK_HOME, else the first spark-submit on PATH that belongs to a full
    distribution (one shipping the Scala compiler)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isfile(os.path.join(home, "jars", f"scala-compiler-{SCALA}.jar")):
            return os.path.join(home, "jars")
    fail(f"no Spark distribution with scala-compiler-{SCALA}.jar: set SPARK_HOME")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def compiled(out_dir, classpath, sources, spark, key=""):
    """Compiles `sources` into `out_dir` unless a stamp of `key` and the
    sources' paths and contents shows the classes are current. Returns the
    stamp."""
    h = hashlib.sha256(key.encode())
    for f in sources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out_dir, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return h.hexdigest()
    t0 = time.time()
    compiler = [os.path.join(spark, f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
                        "-classpath", ":".join(classpath)] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"scalac exited {r.returncode}:\n{r.stdout[-4000:]}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    log(f"compiled {len(sources)} files into {out_dir} in {time.time() - t0:.1f} s")
    return h.hexdigest()


def build(build_dir):
    """Compiles program and harness; returns the harness JVM classpath."""
    src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not src:
        fail(f"no program sources under {ROOT}/src/main/scala")
    spark = spark_jars()
    jars = sorted(glob.glob(os.path.join(spark, "*.jar")))
    prog = os.path.join(build_dir, "classes")
    bench = os.path.join(build_dir, "bench-classes")
    # The program's stamp keys the harness's, so a rebuilt program rebuilds
    # the harness against it.
    compiled(bench, [prog] + jars, sorted(glob.glob(os.path.join(HERE, "src/*.scala"))),
             spark, key=compiled(prog, jars, src, spark))
    return [bench, prog, os.path.join(spark, "*")]


def inputs(build_dir, seed):
    d = os.path.join(build_dir, "data", f"sf{SF}-seed{seed}")
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        gen.write(SF, seed, d)
        open(done, "w").close()
    return d


def selfcheck(sf_dir, out_dir):
    """Runs the repo's strict DuckDB comparison; returns {name: (ok, text)}."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools/selfcheck.py"),
                        sf_dir, out_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    res = {}
    for line in r.stdout.splitlines():
        if line.startswith("ok   ") or line.startswith("FAIL "):
            name = line[5:].split(" ")[0].rstrip(":")
            res[name] = (line.startswith("ok"), line)
    return res


def gold_check(work, pipeline_root, oracle):
    """Gold tables written by the check pass against the twins of the queries
    that build them, run over that pass's silver output."""
    import duckdb
    flat_silver = os.path.join(work, "gold_check", "silver")
    out = os.path.join(work, "gold_check", "out")
    os.makedirs(flat_silver)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"COPY (SELECT * FROM read_parquet('{pipeline_root}/silver/{t}.parquet/*.parquet')) "
                    f"TO '{flat_silver}/{t}.parquet' (FORMAT parquet)")
    twins = {}
    for q, table in GOLD_TWINS.items():
        os.makedirs(os.path.join(out, q))
        con.execute(f"COPY (SELECT * FROM read_parquet('{pipeline_root}/gold/{table}/**/*.parquet', "
                    f"hive_partitioning = true)) TO '{out}/{q}/part-0.parquet' (FORMAT parquet)")
        twins[q] = oracle[q]
    with open(os.path.join(out, "oracle_sql.json"), "w") as fh:
        json.dump(twins, fh)
    return selfcheck(flat_silver, out)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def typical_wall(passes):
    """A pass's wall as the sum over its ops of each op's median latency
    across `passes`. From three passes on, a stall of the shared host during
    one op of one pass moves no op's median, while stalls in two different
    passes already move the median of whole-pass walls."""
    lat = {}
    for p in passes:
        for o in p["ops"]:
            if o["ok"]:
                lat.setdefault(o["name"], []).append(o["lat_s"])
    return sum(statistics.median(v) for v in lat.values())


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None when that percentile would not lie above the
    median (fewer than twenty samples)."""
    if len(xs) < 20:
        return None
    p = math.floor(100 * (1 - 10 / len(xs)))
    return p, sorted(xs)[math.ceil(p / 100 * len(xs)) - 1]


def run_harness(cp, workload, data, work, a):
    """Runs one harness JVM; returns (launch time, its result record)."""
    result_path = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:MetaspaceSize=512m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            "-Duser.language=en", "-Duser.country=US", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", ":".join(cp), "perfbench.Harness", workload, data, work,
            str(a.seed), str(a.seconds), str(a.trace), str(CORES), result_path])
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            fail(f"harness exited {rc}:\n{fh.read()[-4000:]}")
    with open(result_path) as fh:
        return launched, json.load(fh)


def check_outputs(work, data, r, pipeline):
    """Compares every check-pass output with its DuckDB twin; prints one
    line per output and returns whether all match."""
    dump = os.path.join(work, "check", "dump")
    os.makedirs(dump, exist_ok=True)
    with open(os.path.join(work, "check", "oracle_all.json")) as fh:
        oracle = json.load(fh)
    with open(os.path.join(dump, "oracle_sql.json"), "w") as fh:
        json.dump({n: oracle[n] for n in r["dumped"]}, fh)
    checks = selfcheck(data, dump)
    expected = list(r["dumped"])
    if pipeline:
        gold = gold_check(work, os.path.join(work, "check", "pipeline"), oracle)
        checks.update({f"gold:{k}": v for k, v in gold.items()})
        expected += [f"gold:{k}" for k in GOLD_TWINS]
    bad = [n for n in expected if not checks.get(n, (False,))[0]]
    for n in expected:
        line = checks.get(n, (False, f"FAIL {n}: no comparison result"))[1]
        if line.startswith("ok") and line.endswith("(0 rows)"):
            line += "  [0 rows: the check covers the schema only]"
        print(f"check {line}")
    print(f"check {len(expected) - len(bad)}/{len(expected)} outputs match their DuckDB twins")
    return not bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(SPEC) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}")
    if not os.path.exists(os.path.join(ROOT, "tools", "selfcheck.py")):
        fail("tools/selfcheck.py missing: not a proxspark checkout")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)
    data = inputs(build_dir, a.seed)
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    launched, r = run_harness(cp, a.workload, data, work, a)
    pipeline = any(o["name"] == "gold" for o in r["check_ops"])
    correct = check_outputs(work, data, r, pipeline)

    # Failures are data: printed with their exception class, counted against
    # the ops attempted, and never timed.
    for k, o in [("check", o) for o in r["check_ops"]] + [
            (f"pass{p['pass']}", o) for p in r["passes"] for o in p["ops"]]:
        if not o["ok"]:
            print(f"failure {k} {o['name']}: {o['error_class']}: {o['error']}")
    all_ops = r["check_ops"] + [o for p in r["passes"] for o in p["ops"]]
    attempted = len(all_ops)
    failed = sum(not o["ok"] for o in all_ops)

    plain = [p for p in r["passes"] if not p["traced"]]
    lat = [o["lat_s"] for p in plain for o in p["ops"] if o["ok"]]
    n_ops = len(r["check_ops"])
    w1, w2, w3 = quartiles([p["wall_s"] for p in plain])
    wall = typical_wall(plain)
    sink = "noop(full-column)" + ("+parquet(pipeline)" if pipeline else "")
    ctx = (f"[host={platform.node()} cores={r['cores']} sf={SF} seed={a.seed} "
           f"passes={len(plain)} sink={sink}]")
    print(f"run workload={a.workload} nproc={os.cpu_count()} ops_per_pass={n_ops} "
          f"traced_passes={len(r['passes']) - len(plain)} measured_s={r['measure_s']:.3f} {ctx}")
    for p in r["passes"]:
        print(f"pass {p['pass']} traced={int(p['traced'])} wall_s={p['wall_s']:.4f} "
              f"heap_after_gc_mb={p['heap_after_gc_mb']:.2f} gc_s={p['gc_s']:.3f} op:lat/build=" +
              " ".join(f"{o['name']}:{o['lat_s']:.3f}/{o['build_s']:.3f}" for o in p["ops"]))
    print("check-pass op:lat=" + " ".join(f"{o['name']}:{o['lat_s']:.3f}" for o in r["check_ops"]))
    setup_s = r["first_op_ms"] / 1000.0 - launched
    heap = statistics.median(p["heap_after_gc_mb"] for p in plain)
    e2e = {"setup_s": (setup_s, "s"), "wall_s": (wall, "s"), "heap_after_gc_mb": (heap, "MB")}
    t = tail(lat)
    print(f"metric setup_s={setup_s:.4f} s (JVM launch to first timed op: session "
          f"{(r['session_ready_ms'] - r['jvm_start_ms']) / 1000:.3f} s, check/warm-up pass "
          f"{(r['first_op_ms'] - r['session_ready_ms']) / 1000:.3f} s) {ctx}")
    print(f"metric wall_s={wall:.4f} s (sum of per-op median latencies over {len(plain)} passes; "
          f"whole-pass wall median={w2:.4f} q1={w1:.4f} q3={w3:.4f}) {ctx}")
    print(f"metric op_p50_s={statistics.median(lat):.4f} s (n={len(lat)}) {ctx}" if lat else
          f"metric op_p50_s=n/a (no op succeeded) {ctx}")
    print(f"metric op_tail_s=" + (f"{t[1]:.4f} s (p{t[0]}, n={len(lat)})" if t else
          f"n/a (n={len(lat)}: no percentile above p50 has 10 samples beyond it)") + f" {ctx}")
    print(f"metric fail_ratio={failed / attempted:.4f} ratio ({failed}/{attempted}) {ctx}")
    print(f"metric heap_after_gc_mb={heap:.2f} MB (median of {len(plain)} passes) {ctx}")

    if a.trace == 0:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": e2e[m["name"]][1]}
                   for m in spec["end_to_end"]}
    else:
        layers = r["layers"]
        med = {n: statistics.median(l[n] for l in layers) for n in layers[0]}
        for n, v in med.items():
            print(f"layer {n}={v:.4f} {ctx}")
        print("trace listener events " + " ".join(f"{k}={v}" for k, v in r["listener_events"].items()))
        traced = statistics.median(p["wall_s"] for p in r["passes"] if p["traced"])
        print(f"trace overhead_s={traced - w2:.4f} s (traced wall median {traced:.4f} s "
              f"minus untraced {w2:.4f} s)")
        metrics = {m["name"]: {"value": med[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
            build_dir, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
