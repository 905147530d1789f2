#!/usr/bin/env python3
"""Repository benchmark launcher.

    python3 perfbench/run.py --workload corpus_ingest|tick_store|query_sweep|all \
        --seed N --seconds S --trace 0|1 [--out FILE]

Builds the benchmark (perfbench/build.sbt compiles the library sources
under ../src/main together with the benchmark client) when its sources changed,
runs one workload in a fresh JVM with a single closed-loop client,
checks the outputs (the query_sweep results also against DuckDB running
the registered oracle SQL), writes the full result to a JSON file and
prints every metric by name with its unit. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). All stores, inputs and checkpoints live in a working
directory under perfbench/ that is removed at the end.
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
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ["corpus_ingest", "tick_store", "query_sweep"]
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 800

# corpus_ingest's own per-layer metrics; BENCHMARK.json lists the rest
CORPUS_LAYER = {"llm.writeback.ms": "ms", "llm.slice.ms": "ms"}


def spec():
    """BENCHMARK.json: its end_to_end and per_layer lists, each entry with
    name, unit, better (and bound, end to end)."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die(f"no {path}")
    with open(path) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the benchmark and the library sources it links, if they changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no library sources at {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        rc = run_proc(["sbt", "-batch", "-Dsbt.server.autostart=false", "Compile/products"],
                      cwd=HERE, out=out, timeout=BUILD_TIMEOUT_S,
                      env=dict(os.environ, SPARK_HOME=spark_home()))
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}", 1)
    with open(STAMP, "w") as f:
        f.write(digest)


def run_proc(cmd, cwd, out, timeout, env=None):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    """SPARK_HOME, or the first Spark distribution (a spark-submit next to a
    jars/ directory) on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("no Spark distribution: set SPARK_HOME")


def run_jvm(workload, seed, seconds, trace, work, out_file, timeout):
    # C1 alone reserves a 48 MB code cache by default, which Spark's
    # generated classes fill: the JIT then stops, and the JVM can die
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*",
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--out", out_file,
    ]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        rc = run_proc(cmd, cwd=work, out=out, timeout=timeout)
    if rc != 0 or not os.path.exists(out_file):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        die(f"{workload}: benchmark JVM failed (exit {rc})", 1)
    with open(out_file) as f:
        return json.load(f)


def canon(df):
    """Columns sorted by name; -0.0 and 0.0 compare equal (as IEEE does).
    The registered ts_rolling_corr oracle emits -0.0 where the engine
    normalizes a correlation that rounds to zero to 0.0 (seed 104)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c] + 0.0
    return df


def oracle_failures(res):
    """DuckDB runs each registered oracle SQL over the generated corpus and
    compares it with the dumped warm-up result (same rules as the repo's
    oracle gate: column names, dtypes, then sorted rows as strings). A
    mismatching query fails every timed execution it had."""
    import duckdb

    o = res["oracle"]
    con = duckdb.connect()
    for t in sorted(os.listdir(o["data"])):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{o['data']}/{t}/*.parquet')")
    with open(os.path.join(o["results"], "oracle_sql.json")) as f:
        sqls = json.load(f)
    failed, notes = 0, {}
    for name, sql in sorted(sqls.items()):
        try:
            want = canon(con.execute(sql).fetchdf())
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{o['results']}/{name}/*.parquet')").fetchdf())
            ok = (list(want.columns) == list(got.columns)
                  and [str(t) for t in want.dtypes] == [str(t) for t in got.dtypes]
                  and len(want) == len(got))
            if ok and len(want):
                cols = list(want.columns)
                ws = want.sort_values(by=cols, kind="mergesort").reset_index(drop=True).astype(str)
                gs = got.sort_values(by=cols, kind="mergesort").reset_index(drop=True).astype(str)
                ok = bool((ws == gs).all(axis=None))
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, notes[name] = False, str(e)[:300]
        notes.setdefault(name, "ok" if ok else "mismatch")
        if not ok:
            failed += o["executions"].get(name, 0)
    return failed, notes


def fmt(name, m):
    extra = " ".join(f"{k}={v}" for k, v in m.items() if k not in ("value", "unit") and not isinstance(v, (list, dict)))
    return f"{name} {m['value']:.6g} {m['unit']}" + (f"  ({extra})" if extra else "")


def one(workload, seed, seconds, trace, out_path):
    t_start = time.time()
    e2e, per_layer = spec()
    build()  # only the first run in a checkout builds; its limit is longer
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_jvm = time.time()
        res = run_jvm(workload, seed, seconds, trace, work, os.path.join(work, "result.json"),
                      JVM_TIMEOUT_S)
        res["launcher"] = {"build_s": t_jvm - t_start, "jvm_s": time.time() - t_jvm}
        if workload == "query_sweep":
            t_oracle = time.time()
            bad, notes = oracle_failures(res)
            res["launcher"]["oracle_s"] = time.time() - t_oracle
            res["oracle"]["compare"] = notes
            res["failed"] += bad
            m = res["metrics"]["failed_frac"]
            m["value"] = res["failed"] / max(1, res["attempted"])
        spans = os.path.join(work, "result.json.spans.jsonl")
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        if os.path.exists(spans):
            shutil.copyfile(spans, out_path + ".spans.jsonl")
        with open(out_path, "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"# {workload} seed={seed} seconds={seconds} trace={trace} -> {out_path}")
    for name, m in res["metrics"].items():
        print("metric " + fmt(name, m))
    if trace:
        for name, m in res.get("layers", {}).items():
            print("layer " + fmt(name, m))
    for e in res.get("errors", []):
        print(f"error {e}")
    if trace:
        layers = res.get("layers", {})
        names = dict({m["name"]: m["unit"] for m in per_layer},
                     **(CORPUS_LAYER if workload == "corpus_ingest" else {}))
        metrics = {n: {"value": float(layers[n]["value"]) if n in layers else 0.0, "unit": u}
                   for n, u in names.items()}
    else:
        metrics = {m["name"]: {"value": float(res["metrics"][m["name"]]["value"]), "unit": m["unit"]}
                   for m in e2e}
    return {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    # a terminated launcher still stops the JVM it started (run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="result file (default perfbench/results/<workload>-s<seed>-t<trace>.json)")
    a = ap.parse_args()
    if a.seconds <= 0:
        die("--seconds must be positive")
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        out = a.out if a.out and len(names) == 1 else os.path.join(
            HERE, "results", f"{w}-s{a.seed}-t{a.trace}.json")
        results[w] = one(w, a.seed, a.seconds, a.trace, out)
    if len(names) == 1:
        print(json.dumps(results[names[0]]))
    else:
        print(json.dumps({"correct": all(r["correct"] for r in results.values()),
                          "attempted": sum(r["attempted"] for r in results.values()),
                          "failed": sum(r["failed"] for r in results.values()),
                          "workloads": results}))


if __name__ == "__main__":
    main()
