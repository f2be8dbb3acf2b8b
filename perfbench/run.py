#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload <file_batch|sync_ingest|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/` and, for
`query_mix`, generates the fixed query fixture there. Each run then
starts one JVM at local[nproc], runs the workload for about `--seconds`
seconds of measured time, checks every output outside the timed window,
and prints a readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones (layers a workload does not exercise read 0). Metric
names and units come from BENCHMARK.json. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
JAVA_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Newest mtime and count of every file the build reads."""
    newest, count = 0.0, 0
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            if os.sep + "target" in d:
                continue
            files += [os.path.join(d, f) for f in fs]
    for f in files:
        newest = max(newest, os.path.getmtime(f))
        count += 1
    return f"{newest:.6f}/{count}"


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark (incrementally) into jars when sources
    changed, and make the class archive; returns the runtime classpath and
    the sources stamp."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        fail(f"build failed (exit {p.returncode}); see {log}:\n" +
             "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(cp)
    make_archive(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def make_archive(cp):
    """Dump the classes a smoke run loads into a class-data-sharing
    archive, which every later run maps instead of loading and verifying
    the classes again: about 4 s less JVM start-up per run at 4 cores.
    Timed work is not affected. If the dump fails, runs go without it."""
    d = os.path.join(BUILD, "run", "archive")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    code = run_java(cp, ["--workload", "sync_ingest", "--seed", "1", "--seconds", "0.1",
                         "--trace", "0", "--smoke", "--work", os.path.join(d, "work"),
                         "--result", os.path.join(d, "result.json")],
                    os.path.join(d, "tmp"), os.path.join(BUILD, "archive.log"),
                    [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    shutil.rmtree(d, ignore_errors=True)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def run_java(cp, args, tmp, log, jvm_opts=()):
    """Runs perfbench.Main; returns its exit code ("timeout" if killed)."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(LC_ALL="C.UTF-8", SPARK_LOCAL_DIRS=tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if not jvm_opts and os.path.exists(ARCHIVE):
        jvm_opts = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", "-Dspark.ui.enabled=false", *jvm_opts,
            "-cp", cp, "perfbench.Main"] + args
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        code = "timeout"
        try:
            code = p.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also when this script is interrupted or terminated
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return code


def digest(con, sql, check):
    """sha256 of the result in `check.canon` form (tools/check.py)."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    canon = check.canon(cur.fetchall(), cols)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def check_queries(fixture, dumps, report):
    """Compare each dumped query result with DuckDB running its oracle
    SQL on the same fixture. A query without an oracle was dumped twice
    in the run (under `again/`) and must give the same result both times.
    Oracle results are cached in the fixture directory by the hash of
    their SQL: the fixture is made anew when the sources change, and
    d17's oracle alone takes 4 s. Returns (attempted, failed)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the repository's oracle harness and canonicalization
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet')")
    with open(os.path.join(fixture, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(dumps, "no_oracle.txt")) as f:
        no_oracle = set(f.read().split())
    cache_file = os.path.join(fixture, "oracle_digests.json")
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    attempted = failed = 0
    for name in sorted(d for d in os.listdir(dumps)
                       if os.path.isdir(os.path.join(dumps, d)) and d != "again"):
        attempted += 1
        def result(d):
            return digest(con, f"SELECT * FROM read_parquet('{d}/{name}/*.parquet')", check)
        try:
            if name in no_oracle:
                ok = result(dumps) == result(os.path.join(dumps, "again"))
                why = "gave a different result the second time"
            elif name in oracle:
                key = hashlib.sha256(oracle[name].encode()).hexdigest()
                if key not in cache:
                    cache[key] = digest(con, oracle[name], check)
                ok = result(dumps) == cache[key]
                why = "differs from its DuckDB oracle"
            else:
                ok, why = False, "has no oracle SQL (generation failed)"
        except Exception as e:  # a result DuckDB cannot read is wrong
            ok, why = False, f"could not be checked: {e}"
        if not ok:
            failed += 1
            report.append(f"CHECK FAILED: query {name} {why}")
    with open(cache_file, "w") as f:
        json.dump(cache, f, indent=0, sort_keys=True)
    return attempted, failed


def main():
    # SIGTERM unwinds like ^C, so the JVM's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--queries", default="",
                    help="query_mix only: comma-separated queries to run "
                         "in place of the fixed subset")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT} (expected build.sbt and "
             "src/main/scala/graft); run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp, stamp = build()
    tag = (f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke else "")
           + ("-queries" if a.queries else ""))
    run_dir = os.path.join(BUILD, "run", tag)
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a killed run
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    for d in ("logs", "results", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    result_file = os.path.join(run_dir, "result.json")
    # The fixture and its oracle SQL come from the engine's sources
    # (FixtureGen, the query registry), so a source change makes a new one.
    fixture = os.path.join(BUILD, "fixture-" + hashlib.sha256(stamp.encode()).hexdigest()[:12])
    if a.workload == "query_mix":
        for d in os.listdir(BUILD):
            if d.startswith("fixture") and os.path.join(BUILD, d) != fixture:
                shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--result", result_file, "--fixture", fixture,
            "--spans", os.path.join(BUILD, "traces", tag + ".jsonl")]
    if a.queries:
        args += ["--queries", a.queries]
    if a.smoke:
        args.append("--smoke")
    try:
        log = os.path.join(BUILD, "logs", tag + ".log")
        code = run_java(cp, args, tmp, log)
        if code != 0:
            with open(log, errors="replace") as f:
                tail = f.readlines()[-40:]
            fail(f"benchmark JVM failed ({code}); log {log}:\n" + "".join(tail))
        with open(result_file) as f:
            res = json.load(f)
        report = res["report"]
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "query_mix":
            qa, qf = check_queries(fixture, os.path.join(work, "dumps"), report)
            attempted, failed = attempted + qa, failed + qf
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report.append(f"failed_share: {failed / max(1, attempted):.6f} "
                  f"({failed} wrong or missing of {attempted} checked)")
    untraced = os.path.join(BUILD, "results", tag.replace("trace1", "trace0") + ".json")
    if a.trace and not a.queries and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]
        for k in ("items_per_s", "call_geomean_ms", "jobs_per_call"):
            t, u = res["per_layer"].get(f"bench.traced_{k}"), base.get(k)
            if t is not None and u:
                report.append(f"tracing overhead {k}: traced {t:.4f} - untraced "
                              f"{u:.4f} = {t - u:+.4f} ({(t - u) / u:+.1%})")
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as f:
        json.dump(res, f, indent=1)

    key = "per_layer" if a.trace else "end_to_end"
    listed = {m["name"] for m in spec[key]}
    for k, v in res[key].items():
        if k not in listed:
            report.append(f"{k}: {v} (not in BENCHMARK.json)")
    metrics = {}
    for m in spec[key]:
        v = res[key].get(m["name"])
        if v is None and key == "end_to_end":
            fail(f"metric {m['name']} was not measured")
        if v is None:  # a layer this workload does not exercise
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for line in report:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
