#!/usr/bin/env python3
"""graft's benchmark: builds the library with its harness, runs one
workload in a fresh JVM, checks the outputs and prints one JSON verdict.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke      # every workload briefly, all checks

Run it from the root of a checkout. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Everything it writes stays inside the checkout: the build under
.bench_build/, per-run scratch under .bench_work/ (deleted afterwards),
results and traced layer tables under .bench_out/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 150
SURVEY_TIMEOUT_S = 1800
HEAP = "3g"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# Input sizes of the entry workloads: (sf, documents, embeddings). sf
# scales the relational tables and events like the reference data's scale
# factors (sf 0.001 = 6k lineitem rows).
SCALES = {"inventory": (0.001, 500, 500), "survey": (0.001, 500, 500)}
SMOKE_SCALE = (0.001, 200, 200)
GEN_REPS = 3
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spark_home():
    """SPARK_HOME, or the first installation on PATH (a bin/ directory
    whose parent holds jars/)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("[perfbench] no Spark installation: set SPARK_HOME")


SPARK_HOME = spark_home()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "perfbench")


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


def build():
    """Compiles the library and the harness with sbt in a staging project
    under .bench_build; skipped when no source changed since the last
    build. Returns the classes directory."""
    out = build_dir()
    os.makedirs(os.path.join(out, "project"), exist_ok=True)
    classes = os.path.join(out, "target", "scala-2.13", "classes")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
                and os.path.isdir(classes):
            return classes
        shutil.copy(os.path.join(BENCH, "build.sbt"), out)
        shutil.copy(os.path.join(BENCH, "project", "build.properties"),
                    os.path.join(out, "project"))
        env = dict(os.environ, GRAFT_ROOT=ROOT, SPARK_HOME=SPARK_HOME)
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               f"-Dsbt.repository.config={repos} -Xmx2g")
        env.setdefault("COURSIER_MODE", "offline")
        log("building library + harness with sbt")
        t0 = time.time()
        with open(os.path.join(out, "build.log"), "w") as bl:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.server.autostart=false",
                 "-Dsbt.log.noformat=true", "Compile/products"],
                cwd=out, env=env, stdout=bl, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0:
            tail = open(os.path.join(out, "build.log")).read()[-3000:]
            sys.exit(f"[perfbench] build failed (sbt exit {rc}):\n{tail}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t0:.1f}s")
    return classes


def run_jvm(classes, workload, seed, seconds, trace, smoke, timeout=RUN_TIMEOUT_S):
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}-{workload}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(work, "result.json")
    inputs = []
    if workload in SCALES:
        # inputs made `reps` times; the median time counts into setup_s
        sys.path.insert(0, BENCH)
        sys.dont_write_bytecode = True
        import gen
        data = os.path.join(work, "data")
        times = []
        for _ in range(1 if smoke else GEN_REPS):
            t0 = time.perf_counter()
            gen.write(data, seed, *(SMOKE_SCALE if smoke else SCALES[workload]))
            times.append(time.perf_counter() - t0)
        inputs = ["--data", data, "--gen-s", ",".join(f"{t:.6f}" for t in times)]
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp", "-Dspark.ui.enabled=false",
            "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes}:{SPARK_HOME}/jars/*", "graft.perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--out", result,
              "--trace-out", os.path.join(out_dir, f"trace-{workload}-s{seed}.json")]
           + inputs + (["--smoke"] if smoke else []))
    logf = os.path.join(out_dir, f"jvm-{workload}-s{seed}-t{trace}.log")
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"[perfbench] {workload} did not finish in {timeout}s; see {logf}")
    if rc != 0 or not os.path.exists(result):
        tail = open(logf).read()[-3000:]
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"[perfbench] JVM exit {rc} for {workload}:\n{tail}")
    res = json.load(open(result))
    res["check_results"] = run_checks(res["checks"])
    shutil.rmtree(work, ignore_errors=True)
    return res


def canon(df):
    """check.py's canonical form: columns sorted by name, rows sorted."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def diff(a, b):
    """None when the canonical frames are equal (compared as check.py
    does, value by value through str), else a description."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        try:
            eq = (x.astype(str) == y.astype(str)) | (x.isna() & y.isna())
        except Exception:
            eq = x == y
        if not eq.all():
            i = int((~eq).idxmax())
            return f"col {c} row {i}: {x.iloc[i]!r} vs {y.iloc[i]!r}"
    return None


def run_checks(checks):
    """Resolves the JVM's output checks: `oracle` (DuckDB over the same
    tables), `same` (two evaluations agree) and `verdict` (decided in the
    JVM). Returns [{name, ok, detail}]."""
    out = []
    pending = [c for c in checks if c["kind"] in ("oracle", "same")]
    con = None
    if pending:
        import duckdb
        import pandas as pd
        read = lambda d: canon(pd.read_parquet(d))
    for c in checks:
        kind, detail = c["kind"], None
        try:
            if kind == "verdict":
                detail = c.get("detail") if not c["ok"] else None
            elif kind == "oracle":
                if con is None:
                    con = duckdb.connect()
                    for t in TABLES:
                        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{c['data']}/{t}.parquet')")
                detail = diff(read(c["dir"]), canon(con.execute(c["sql"]).fetchdf()))
            elif kind == "same":
                detail = diff(read(c["dir"]), read(c["other"]))
            else:
                detail = f"unknown check kind {kind}"
        except Exception as e:  # a check that cannot run is a failed check
            detail = f"{type(e).__name__}: {str(e)[:300]}"
        out.append({"name": c["name"], "kind": kind, "ok": detail is None,
                    "detail": detail})
    return out


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def verdict(spec, res, trace):
    bad = [c for c in res["check_results"] if not c["ok"]]
    failed = int(res["failed"]) + len(bad)
    attempted = max(1, int(res["attempted"]))
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    # a traced run's untraced units also give the end-to-end figures; the
    # per-layer list may name some of them (e.g. op_p95_s)
    source = dict(res["metrics"], **res["layers"]) if trace else res["metrics"]
    metrics, missing = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            if trace:
                v = 0.0  # a layer this workload does not cross
            else:
                missing.append(m["name"])
                continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = failed == 0 and not missing and not res["errors"]
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}, bad, missing


def one(spec, classes, workload, seed, seconds, trace, smoke=False,
        timeout=RUN_TIMEOUT_S):
    res = run_jvm(classes, workload, seed, seconds, trace, smoke, timeout)
    line, bad, missing = verdict(spec, res, trace)
    stamp = dict(res["info"], workload=workload, git_commit=git_commit(),
                 failed_frac=line["failed"] / line["attempted"],
                 checks=len(res["check_results"]))
    for b in bad:
        log(f"check FAILED {b['name']} ({b['kind']}): {b['detail']}")
    for e in res["errors"]:
        log(f"error: {e}")
    for m in missing:
        log(f"metric not produced: {m}")
    name = f"{workload}-s{seed}-t{trace}"
    with open(os.path.join(ROOT, ".bench_out", f"result-{name}.json"), "w") as fh:
        json.dump(dict(res, verdict=line, stamp=stamp), fh)
    return line, stamp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload briefly on tiny inputs, traced and untraced")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] no graft sources under src/main/scala: run from a checkout")
    spec = json.load(open(spec_path))
    workloads = [w["name"] for w in spec["workloads"]]
    classes = build()
    if a.smoke:
        ok = True
        for w in ([a.workload] if a.workload else workloads):
            for t in (0, 1):
                line, stamp = one(spec, classes, w, a.seed, 1, t, smoke=True)
                print(json.dumps({"workload": w, "trace": t, **line}), flush=True)
                ok &= line["correct"]
        print(json.dumps({"smoke": "ok" if ok else "FAILED"}))
        sys.exit(0 if ok else 1)
    if a.workload not in workloads + ["survey"]:
        sys.exit(f"[perfbench] unknown workload {a.workload!r}; one of {workloads}")
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    line, stamp = one(spec, classes, a.workload, a.seed, seconds, a.trace,
                      timeout=SURVEY_TIMEOUT_S if a.workload == "survey" else RUN_TIMEOUT_S)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in line["metrics"].items():
        log(f"{a.workload} {k} = {v['value']:.6g} {units[k]}")
    log(f"{a.workload} failed_frac = {stamp['failed_frac']:.4g} "
        f"({line['failed']} of {line['attempted']} operations)")
    print(json.dumps({"stamp": stamp}), flush=True)
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
