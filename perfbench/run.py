#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
       python3 perfbench/run.py --self-test
       python3 perfbench/run.py --pin WORKLOAD     (rewrite perfbench/pins.tsv rows)

Run from the repository root. The first run compiles the engine
(`src/main/scala`) together with the benchmark's own sources into
`perfbench/.build` with the Scala compiler that ships in Spark's jar
directory; later runs reuse the build while no source changed. Input tables
are generated from a fixed seed into `perfbench/.work/data`.

The JVM (`perfbench.Main`) runs the set-up, the timed passes and the
untimed fingerprint checks and writes a result file. This script adds the
bulk-load audit check against DuckDB over the same parquet slices, prints
every metric as `name value unit` and ends with one JSON line:
{"correct": .., "attempted": .., "failed": .., "metrics": {..}}.
"""
import argparse
import decimal
import fcntl
import functools
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
PINS = os.path.join(HERE, "pins.tsv")
DATA_VERSION = "v2"
RUN_LIMIT_S = 170

sys.dont_write_bytecode = True  # the benchmark writes only under its own dirs
sys.path.insert(0, HERE)
import gendata  # noqa: E402

# Units of every metric the benchmark reports; BENCHMARK.json names a subset.
E2E = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s",
       "heap_peak_mb": "MB"}
EXTRA = {"op_p90_s": "s", "op_samples": "count", "op_samples_above_p90": "count",
         "failed_frac": "ratio", "passes": "count", "window_s": "s"}
# Table sets by name (perfbench.Workloads refers to them by the same name).
SCALES = {"sf0.01": 0.01, "sf0.1": 0.1}
# Spark on JDK 17 needs these when started outside spark-submit.
JAVA_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def unit_of(name):
    if name in E2E:
        return E2E[name]
    if name in EXTRA:
        return EXTRA[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    if name == "jvm.load_avg1":
        return "load"
    return "count"


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


@functools.lru_cache(maxsize=None)
def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's build.sbt compiles the engine against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def java_cp(*dirs):
    return os.pathsep.join(list(dirs) + [os.path.join(spark_jars(), "*")])


def build(with_tests=False):
    """Compile engine + benchmark sources unless an up-to-date build exists;
    returns the classes directory."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}: "
                         "run from a checkout of the repository")
    dirs = [ENGINE_SRC, BENCH_SRC] + ([TEST_SRC] if with_tests else [])
    srcs = sources(*dirs)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes-tests" if with_tests else "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs))
        log(f"compiling {len(srcs)} sources")
        t0 = time.time()
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", java_cp(), "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", java_cp(), "@" + argfile],
            stdout=sys.stderr)
        if rc != 0:
            raise SystemExit(f"compile failed (exit {rc})")
        log(f"compiled in {time.time() - t0:.1f} s")
        with open(os.path.join(tmp, ".stamp"), "w") as fh:
            fh.write(stamp)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def data_root():
    """Generated tables, one directory per scale under the returned root."""
    root = os.path.join(WORK, "data", DATA_VERSION)
    for name, sf in SCALES.items():
        d = os.path.join(root, name)
        if not os.path.exists(os.path.join(d, ".done")):
            shutil.rmtree(d, ignore_errors=True)
            log(f"generating the {name} tables")
            gendata.generate(d, sf)
            open(os.path.join(d, ".done"), "w").close()
    return root


def run_jvm(classes, args, run_dir, deadline):
    """Run perfbench.Main in its own process group; kill it at the deadline."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JAVA_OPENS +
           ["-cp", java_cp(classes), "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("JVM exceeded the run time limit; killing it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def dec(s):
    return decimal.Decimal(s).normalize() if s is not None else None


def check_audits(data_dir, audits):
    """Count of bulk-load scripts whose audit differs from DuckDB reading
    the same source slices."""
    import duckdb
    con = duckdb.connect()
    li = os.path.join(data_dir, "lineitem.parquet")
    od = os.path.join(data_dir, "orders.parquet")
    bad = 0
    for a in audits:
        ls = ", ".join(map(str, a["li"]))
        os_ = ", ".join(map(str, a["ord"]))
        n, q, p = con.execute(
            f"SELECT count(*), sum(CAST(l_quantity AS DECIMAL(18,2))), "
            f"sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM '{li}' "
            f"WHERE l_orderkey % 16 IN ({ls}) AND l_quantity > 0").fetchone()
        m, t = con.execute(
            f"SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM '{od}' "
            f"WHERE o_orderkey % 16 IN ({os_})").fetchone()
        got = (a["li_rows"], dec(a["li_qty"]), dec(a["li_price"]),
               a["ord_rows"], dec(a["ord_price"]))
        want = (n, dec(str(q)), dec(str(p)), m, dec(str(t)))
        if got != want:
            log(f"bulk audit mismatch: got {got} want {want}")
            bad += 1
    return bad


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def bench(a):
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    classes = build()
    root = data_root()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    spans_dir = os.path.join(HERE, "out")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", root, "--work", run_dir, "--out", out,
            "--pins", PINS]
    if a.trace:
        os.makedirs(spans_dir, exist_ok=True)
        args += ["--spans", os.path.join(spans_dir, f"spans-{a.workload}-{a.seed}.jsonl")]
    try:
        rc = run_jvm(classes, args, run_dir, deadline)
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = res["failed"]
    if res["audits"]:
        failed += check_audits(os.path.join(root, "sf0.01"), res["audits"])
    attempted = res["attempted"]
    for e in res["errors"]:
        log(f"op error: {e}")
    for k in res["bad_keys"]:
        log(f"fingerprint mismatch: {k}")
    for e in res["cold_errors"]:
        log(f"set-up error: {e}")
    metrics_all = dict(res["e2e"])
    metrics_all.update(res["extra"])
    metrics_all["failed_frac"] = failed / max(1, attempted)
    print(f"workload {res['workload']} seed {a.seed} trace {a.trace}")
    for k, v in metrics_all.items():
        print(f"metric {k} {fmt(v)} {unit_of(k)}")
    for k, v in sorted(res["layers"].items()):
        print(f"layer {k} {fmt(v)} {unit_of(k)}")
    for k, v in res["key_median_s"].items():
        print(f"op {k} {fmt(v)} s")
    print("pass walls s: " + " ".join(f"{x:.3f}" for x in res["pass_walls_s"]))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            raise SystemExit(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0 and not res["cold_errors"],
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


def self_test():
    classes = build(with_tests=True)
    run_dir = os.path.join(WORK, f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    try:
        return subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xmx1g", f"-Djava.io.tmpdir={run_dir}/tmp"] + JAVA_OPENS +
            ["-cp", java_cp(classes), "perfbench.SelfTest", ROOT], cwd=run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def pin(workload):
    classes = build()
    root = data_root()
    run_dir = os.path.join(WORK, f"pin-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    out = os.path.join(run_dir, "pins.tsv")
    args = ["--workload", workload, "--seed", "0", "--seconds", "0", "--data", root,
            "--work", run_dir, "--out", out, "--pins", PINS, "--mode", "pin"]
    try:
        rc = run_jvm(classes, args, run_dir, time.time() + 3600)
        if rc != 0:
            raise SystemExit(f"pin run failed (exit {rc})")
        with open(out) as fh:
            new = dict(line.split("\t", 1) for line in fh.read().splitlines() if line)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    old = {}
    if os.path.exists(PINS):
        with open(PINS) as fh:
            old = dict(line.split("\t", 1) for line in fh.read().splitlines()
                       if line and not line.startswith("#"))
    old.update(new)
    with open(PINS, "w") as fh:
        fh.write("# key\trows\thash-sum: fingerprints on the generated tables at each "
                 f"workload's scale (gendata.py {DATA_VERSION})\n")
        for k in sorted(old):
            fh.write(f"{k}\t{old[k]}\n")
    print(f"pinned {len(new)} keys into {PINS}")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    p.add_argument("--pin", metavar="WORKLOAD")
    a = p.parse_args()
    if a.self_test:
        sys.exit(self_test())
    if a.pin:
        pin(a.pin)
        return
    if not a.workload:
        p.error("--workload is required")
    bench(a)


if __name__ == "__main__":
    main()
