#!/usr/bin/env python3
"""graft benchmark: runs one workload at one seed and prints one JSON line.

    python3 perfbench/run.py --workload grid_scan --seed 1 --seconds 10 --trace 0

Workloads: grid_scan, grid_ingest, pipeline (see perfbench/README.md).
The first run in a checkout compiles the engine and the harness with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}; --trace 0 prints the
end-to-end metrics, --trace 1 the per-layer metrics. A wrong answer makes
the command exit 1. Everything the benchmark writes stays under
perfbench/work (build, inputs, cached answers) and perfbench/results.

Other modes:
    --selftest             each workload at tiny sizes with the shortest
                           window, both trace modes, plus injected wrong
                           answers
    --determinism          two traced runs on one seed; diffs the counts
                           that must repeat exactly
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("grid_scan", "grid_ingest", "pipeline")
RUN_LIMIT_S = 170

# a fixed heap geometry, so that peak resident memory follows the live data
# and not the collector's resizing decisions
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC",
        "-XX:-UseAdaptiveSizePolicy"]
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def source_paths():
    return [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory the engine's own
    build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    die("Spark jars not found: set SPARK_HOME")


def build():
    """Compiles engine + harness if the sources changed; returns
    (classpath, seconds spent)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    t0 = time.time()
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    want = digest(source_paths())
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as c:
                    return c.read(), time.time() - t0
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_JARS"] = spark_jars()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        die("build failed; see perfbench/work/build.log:\n" +
            "\n".join(lines[-30:]))
    cp = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    oracles = os.path.join(WORK, "oracle_sql.json")
    jvm(cp, ["--dump-oracles", oracles], os.path.join(WORK, "oracles.log"),
        os.path.join(WORK, "tmp"), timeout=120)
    with open(stamp, "w") as f:
        f.write(want)
    return cp, time.time() - t0


def jvm(cp, args, log, tmp, timeout):
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *HEAP, *ADD_OPENS, "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main"] + args)
    # few malloc arenas keep native memory, and so peak RSS, repeatable
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0:
        with open(log) as f:
            tail = f.read().splitlines()[-40:]
        die(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}:"
            "\n" + "\n".join(tail))


def scale(tiny):
    return (200, 100) if tiny else (400, 200)


def pipeline_expected(seed, data_dir, tiny):
    """DuckDB answers of the pipeline oracles, cached per seed."""
    import duckdb
    with open(os.path.join(WORK, "oracle_sql.json")) as f:
        oracles = json.load(f)
    key = hashlib.sha256(json.dumps([oracles, scale(tiny)], sort_keys=True)
                         .encode() + open(os.path.join(HERE, "inputs.py"), "rb")
                         .read()).hexdigest()[:16]
    cache = os.path.join(WORK, "cache", f"pipeline-{seed}-{key}")
    if os.path.isfile(os.path.join(cache, "_DONE")):
        return cache
    shutil.rmtree(cache, ignore_errors=True)
    os.makedirs(cache)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    for name, sql in sorted(oracles.items()):
        try:
            con.execute(f"COPY ({sql}) TO '{cache}/{name}.parquet' "
                        "(FORMAT PARQUET)")
        except duckdb.Error as e:
            print(f"perfbench: oracle {name} failed in DuckDB: {e}",
                  file=sys.stderr)
    open(os.path.join(cache, "_DONE"), "w").close()
    return cache


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_once(workload, seed, seconds, trace, tiny=False, inject=None):
    """One benchmark run; returns (result dict, result dir). `tiny` (small
    inputs) and `inject` (ops whose expected answer is made wrong) serve
    the self-test, whose results are tagged apart."""
    cp, build_s = build()
    excluded = build_s
    nproc = os.cpu_count() or 1
    # one core stays free for the client thread, the JIT compiler, the
    # collector and the listener bus (see README.md, Load model)
    cpus = max(1, min(4, nproc - 1))
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{workload}-seed{seed}-trace{trace}-{stamp}-{os.getpid()}"
    if tiny or inject:
        tag = "selftest-" + tag
    run_dir = os.path.join(WORK, "runs", tag)
    res_dir = os.path.join(RESULTS, tag)
    os.makedirs(run_dir)
    os.makedirs(res_dir)
    try:
        data = run_dir
        cache = os.path.join(WORK, "cache")
        if workload == "pipeline":
            data = os.path.join(run_dir, "data")
            os.makedirs(data)
            sys.path.insert(0, HERE)
            import inputs
            inputs.write_pipeline_inputs(data, seed, *scale(tiny))
            e0 = time.time()
            cache = pipeline_expected(seed, data, tiny)
            excluded += time.time() - e0
        args = ["--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace),
                "--cpus", str(cpus), "--run-dir", run_dir, "--data", data,
                "--cache", cache, "--out", os.path.join(res_dir, "result.json"),
                "--t0-ms", repr(T_START * 1000.0),
                "--excluded-ms", repr(excluded * 1000.0)]
        if tiny:
            args.append("--tiny")
        if inject:
            args += ["--inject-wrong", inject]
        limit = max(60.0, RUN_LIMIT_S - (time.time() - T_START - build_s))
        cpu0 = cpu_times()
        jvm(cp, args, os.path.join(res_dir, "jvm.log"),
            os.path.join(run_dir, "tmp"), timeout=limit)
        cpu1 = cpu_times()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(res_dir, "result.json")) as f:
        res = json.load(f)
    ctx = res["context"]
    # time the hypervisor gave other guests while this run waited for a CPU
    steal = None
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    ctx.update({"seed": seed, "git_commit": git_commit(),
                "cpu_steal_frac": steal,
                "source_digest": digest(source_paths())[:16],
                "nproc_host": nproc, "build_s": build_s})
    with open(os.path.join(res_dir, "result.json"), "w") as f:
        json.dump(res, f, indent=1)
    return res, res_dir


def final_line(res):
    return json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": res["metrics"]})


def selftest():
    """Tiny, shortest-window runs of every workload in both modes; every
    metric of BENCHMARK.json must be present with its unit, and an
    injected wrong answer must raise error_rate and fail the run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, _ = run_once(w, 7, 0.01, trace, tiny=True)
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: wrong answers {res['errors']}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None and m["name"] not in res.get("absent", []):
                    problems.append(f"{w} trace={trace}: {m['name']} missing")
                elif got is not None and got["unit"] != m["unit"]:
                    problems.append(f"{w}: {m['name']} unit {got['unit']} "
                                    f"!= {m['unit']}")
            print(f"selftest {w} trace={trace}: {len(res['metrics'])} metrics")
    for w, op in (("grid_scan", "full_agg"), ("pipeline", "bpe_train")):
        res, _ = run_once(w, 7, 0.01, 1, tiny=True, inject=op)
        rate = res["metrics"]["error_rate"]["value"]
        if res["correct"] or rate <= 0:
            problems.append(f"{w}: injected wrong answer not caught "
                            f"(error_rate={rate})")
        print(f"selftest {w} injected wrong answer in {op}: "
              f"correct={res['correct']} error_rate={rate:.4f}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


DETERMINISTIC = ("spark.jobs", "spark.stages", "spark.tasks",
                 "plans.exchanges", "plans.broadcast_joins",
                 "plans.sort_merge_joins", "plans.codegen_fallbacks",
                 "plans.metadata_answered_ops", "sources.scan_partitions",
                 "grid.bytes_read")


def determinism(workload, seed, seconds):
    """Two traced runs on one seed; the named counts must agree exactly."""
    a, _ = run_once(workload, seed, seconds, 1)
    b, _ = run_once(workload, seed, seconds, 1)
    diffs = []
    for k in DETERMINISTIC:
        va = a["metrics"].get(k, {}).get("value")
        vb = b["metrics"].get(k, {}).get("value")
        print(f"{k:40s} {va!r:>16} {vb!r:>16}")
        if va != vb:
            diffs.append(k)
    for op in a["per_op_counts"]:
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
            va, vb = a["per_op_counts"][op][k], b["per_op_counts"][op][k]
            if va != vb:
                diffs.append(f"{op}.{k}: {va} vs {vb}")
    for d in diffs:
        print("DIFFERS", d)
    print("determinism", "FAILED" if diffs else "passed")
    return 1 if diffs else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--determinism", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from a checkout of the graft repository: the engine "
            "sources are missing")
    if a.selftest:
        return selftest()
    if a.workload is None:
        die("--workload is required")
    if a.determinism:
        return determinism(a.workload, a.seed, a.seconds)
    res, res_dir = run_once(a.workload, a.seed, a.seconds, a.trace)
    c = res["context"]
    print(f"# {a.workload} seed={a.seed} nproc={c['nproc']} "
          f"local[{c['local_slots']}] heap={c['max_heap_mb']}MB "
          f"commit={c['git_commit'] or c['source_digest']} "
          f"inputs={json.dumps(c['inputs'])} loadavg={c['loadavg_start']:.2f}"
          f"->{c['loadavg_end']:.2f} steal={c['cpu_steal_frac']} "
          f"passes={c['timed_passes']} "
          f"ops={c['op_samples']} results={os.path.relpath(res_dir, ROOT)}")
    for e in res["errors"]:
        print(f"# error: {e}", file=sys.stderr)
    print(final_line(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
