#!/usr/bin/env python3
"""Same-host benchmark for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds the engine (src/main/scala) and the benchmark (perfbench/scala) with
the Scala compiler that ships in Spark's jars, into .bench_build/, then runs
the workload in one JVM at local[nproc] and prints every metric with its
unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics and writes the span
trace to .bench_build/traces/; a traced run measures every layer, so it runs
both workloads, the named one first. The exit code is non-zero when an output
check fails or the run cannot complete.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import catalog_data  # noqa: E402

WORKLOADS = ("ingest", "catalog")
JVM_TIMEOUT_S = 170
HEAP = "3g"
GC_FLAGS = ["-XX:+UseParallelGC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def declared(spec, trace):
    """name -> unit of the metrics a run with this trace flag reports."""
    group = spec["per_layer"] if trace else spec["end_to_end"]
    return {m["name"]: m["unit"] for m in group}


def select_metrics(spec, trace, measured):
    """Keep the declared metrics of this kind, after checking every measured
    metric is declared with the same unit and every declared metric of this
    kind was measured. Raises ValueError on any mismatch."""
    every = {**declared(spec, 0), **declared(spec, 1)}
    want = declared(spec, trace)
    out = {}
    for name, (value, unit) in measured.items():
        if not NAME_RE.match(name) or not UNIT_RE.match(unit):
            raise ValueError(f"malformed metric {name!r} [{unit!r}]")
        if name not in every:
            raise ValueError(f"metric {name} is not declared in BENCHMARK.json")
        if every[name] != unit:
            raise ValueError(f"metric {name} measured in {unit}, declared in {every[name]}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} has value {value!r}")
        if name in want:
            out[name] = {"value": value, "unit": unit}
    missing = sorted(n for n in want if n not in out)
    if missing:
        raise ValueError(f"the run did not report {missing}")
    return {n: out[n] for n in want}


# ------------------------------------------------------------------ build

def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not files:
        raise FileNotFoundError("no engine sources under src/main/scala")
    return files, bench


def spark_jars(root):
    """The jars the project's build compiles against: $SPARK_HOME/jars, else
    the directory build.sbt names as its unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise FileNotFoundError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise FileNotFoundError(f"no jars under {jar_dir}")
    return jars


def source_key(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(f[len(root):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, build_dir):
    """Compile the engine once per engine source content, and the benchmark
    once per engine and benchmark source content; returns the class
    directories."""
    engine, bench = sources(root)
    classes = os.path.join(build_dir, "classes")
    engine_out = os.path.join(classes, "engine-" + source_key(root, engine))
    bench_out = os.path.join(classes, "bench-" + source_key(root, engine + bench))
    if os.path.isdir(classes):
        for d in os.listdir(classes):
            if os.path.join(classes, d) not in (engine_out, bench_out):
                shutil.rmtree(os.path.join(classes, d))
    jars = spark_jars(root)
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-2\.13", j)]
    cp = ":".join(jars)

    def scalac(dest, classpath, files):
        if os.path.exists(os.path.join(dest, "ok")):
            return
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        t0 = time.time()
        p = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                            "scala.tools.nsc.Main", "-nowarn", "-d", dest,
                            "-classpath", classpath] + files,
                           stdout=sys.stderr, timeout=600)
        if p.returncode != 0:
            raise RuntimeError(f"scalac failed on {len(files)} files (exit {p.returncode})")
        open(os.path.join(dest, "ok"), "w").close()
        log(f"compiled {len(files)} files into {dest} in {time.time() - t0:.1f} s")

    scalac(engine_out, cp, engine)
    scalac(bench_out, cp + ":" + engine_out, bench)
    return engine_out, bench_out


# ------------------------------------------------------------------ catalog oracle

def same_value(a, b):
    if a == b or (a is None and b is None):
        return True
    return isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b)


def summary(rel):
    """Column names, result types and rows of a relation, columns sorted by
    name and rows sorted."""
    cols = list(rel.columns)
    types = dict(zip(cols, map(str, rel.types)))
    idx = [cols.index(c) for c in sorted(cols)]
    rows = sorted(tuple(r[i] for i in idx) for r in rel.fetchall())
    return sorted(cols), [types[c] for c in sorted(cols)], rows


def mismatch(got, want):
    """tools/check_oracle.py's rules: same column names, same result types,
    same rows compared exactly after sorting columns and rows. Takes two
    summaries; returns None on a match, else what differs."""
    (gcols, gtypes, grows), (wcols, wtypes, wrows) = got, want
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    drift = [(c, g, w) for c, g, w in zip(gcols, gtypes, wtypes) if g != w]
    if drift:
        return f"result types differ: {drift}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows, oracle has {len(wrows)}"
    for rg, rw in zip(grows, wrows):
        if not all(same_value(a, b) for a, b in zip(rg, rw)):
            return f"first mismatch: got {rg}, want {rw}"
    return None


def check_catalog(result, data_dir, plant):
    """Compare every catalog output with its DuckDB oracle. Returns the ids
    of failed operations with the reason, and the bytes of the first timed
    pass's output data files ÷ the rows in them."""
    import duckdb
    outputs = result["info"]["catalog.outputs"]
    oracle = json.load(open(os.path.join(os.path.dirname(os.path.dirname(
        outputs[0]["dir"])), "oracle_sql.json")))
    con = duckdb.connect()
    for t in catalog_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failed = {}
    wants = {}  # each oracle runs once, whatever the number of passes
    nbytes = nrows = 0
    for i, o in enumerate(outputs):
        sql = oracle[o["query"]]
        if plant == "catalog.oracle" and i == 0:
            sql = f"SELECT * FROM ({sql}) LIMIT 0"
        try:
            if sql not in wants:
                wants[sql] = summary(con.sql(sql))
            got = summary(con.sql(f"SELECT * FROM '{o['dir']}/*.parquet'"))
            bad = mismatch(got, wants[sql])
            if o["pass"] == 1:
                nrows += len(got[2])
                nbytes += sum(os.path.getsize(f) for f in glob.glob(f"{o['dir']}/*.parquet"))
        except Exception as e:  # an unreadable output is a failed check
            bad = f"compare error: {e}"
        if bad:
            failed[o["op"]] = f"{o['query']}: {bad}"
    return failed, nbytes / max(1, nrows)


# ------------------------------------------------------------------ run

def tree_bytes(path):
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                n += os.path.getsize(p)
    return n


def run(args):
    root = os.getcwd()
    spec = load_spec(root)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise ValueError(f"unknown workload {args.workload}")
    # build outputs, caches and traces; a CARGO_TARGET_DIR in the environment
    # names this directory for every benchmark of the checkout
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    engine_cp, bench_cp = build(root, build_dir)
    work = os.path.join(build_dir, "work")
    os.makedirs(os.path.join(work, "cache"), exist_ok=True)
    traces = os.path.join(build_dir, "traces")
    os.makedirs(traces, exist_ok=True)
    info = {}
    # a traced run runs both workloads
    if args.workload == "catalog" or args.trace:
        data_dir = os.path.join(work, "cache", f"catalog-s{args.seed}")
        if not os.path.exists(os.path.join(data_dir, "_SUCCESS")):
            t0 = time.time()
            shutil.rmtree(data_dir, ignore_errors=True)
            catalog_data.write(data_dir, args.seed)
            open(os.path.join(data_dir, "_SUCCESS"), "w").close()
            info["input.generate_s"] = time.time() - t0

    tmp = os.path.join(build_dir, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    result_file = os.path.join(tmp, "result.json")
    trace_file = os.path.join(traces, f"trace-{args.workload}-seed{args.seed}.json")
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = (["java", "-XX:-UsePerfData"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}"] + GC_FLAGS
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}",
              "-cp", ":".join([bench_cp, engine_cp] + spark_jars(root)),
              "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), work, result_file, trace_file, args.plant or ""])
    t0 = time.time()
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc != 0:
            raise RuntimeError(f"benchmark JVM exited with {rc}")
        with open(result_file) as f:
            result = json.load(f)
        leaked_mb = (tree_bytes(tmp) - os.path.getsize(result_file)) / 2**20
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    info["jvm_s"] = time.time() - t0

    failed = {int(f.split(":")[0].split()[1]): f for f in result["failures"]}
    measured = {m["name"]: (m["value"], m["unit"]) for m in result["metrics"]}
    if "catalog.outputs" in result["info"]:
        t1 = time.time()
        bad, bytes_per_row = check_catalog(result, data_dir, args.plant)
        failed.update(bad)
        info["oracle_check_s"] = time.time() - t1
        if not args.trace:
            measured["bytes_per_row"] = (bytes_per_row, "B")
    if args.trace:
        measured["run.tmp_leak_mb"] = (leaked_mb, "MB")
    metrics = select_metrics(spec, args.trace, measured)

    attempted = result["attempted"]
    for op, why in sorted(failed.items()):
        log(f"FAILED {why}")
    info.update(result["info"])
    info.pop("catalog.outputs", None)
    info["jvm"] = {"heap": HEAP, "gc": GC_FLAGS, "cpus": os.cpu_count()}
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"operations {attempted}  failed {len(failed)} "
          f"({len(failed) / attempted:.1%})")
    for name, m in metrics.items():
        print(f"  {name:<40} {m['value']:>14.4f} {m['unit']}")
    print("  info " + json.dumps(info, sort_keys=True))
    if args.trace:
        print(f"  trace written to {os.path.relpath(trace_file, root)}")
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))
    return 0 if not failed else 1


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hook: plant one wrong answer so the run must fail its checks
    p.add_argument("--plant", choices=("ingest.vector", "ingest.rows", "stream.once",
                                       "catalog.oracle"), help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    try:
        return run(args)
    except Exception as e:
        log(f"run failed: {type(e).__name__}: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
