#!/usr/bin/env python3
"""End-to-end, layer-attributed benchmark of the extraction engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the JVM harness from source with offline sbt (once
per source state), runs one workload in a fresh JVM on local[N] with
N = nproc, checks the outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Everything the run writes stays under
.bench_build/ in the repository root. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("extract_articles", "curation_heavy")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
JVM_TIMEOUT_S = 170

# Module opens Spark needs on JDK 17 outside spark-submit (as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """SPARK_DRIVER_MEM as tier-1 sets it: half of RAM, 2g to 8g."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def initial_heap(xmx):
    """Half of -Xmx: heap growth during a short run otherwise varies from
    JVM to JVM and shows as noise in both times and peak RSS."""
    n, unit = int(xmx[:-1]), xmx[-1].lower()
    mb = n * {"g": 1024, "m": 1, "k": 1 / 1024}[unit]
    return f"{max(int(mb // 2), 256)}m"


def source_stamp():
    """Hash of every input of the build; a change forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with offline sbt; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.insert(1, f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(l for l in p.stdout.splitlines() if l.startswith("[error]")))
        die(f"sbt build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, work, mode="measure"):
    n = cores()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_CPUS=str(n), SPARK_DRIVER_MEM=driver_mem())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{env['SPARK_DRIVER_MEM']}", f"-Xms{initial_heap(env['SPARK_DRIVER_MEM'])}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "graft.perfbench.PerfBench", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), work, str(n), mode])
    p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        log, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    with open(os.path.join(work, "jvm.log"), "w") as f:
        f.write(log)
    if p.returncode != 0:
        sys.stderr.write(log[-4000:])
        die(f"benchmark JVM failed (exit {p.returncode})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f), n


# ---------------------------------------------------------------- oracles

def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]

    def key_cell(x):
        return f"{x:.9g}" if isinstance(x, float) else str(x)
    return sorted(cols), sorted(out, key=lambda r: tuple(key_cell(x) for x in r))


def _eq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check_oracles(cur_dir, results_dir, threads):
    """Each query's rows against its DuckDB oracle over the same table:
    columns and rows sorted, floats to 1e-9 (as tools/check_oracles.py).
    Returns {query: None if equal else the reason}."""
    import duckdb
    with open(os.path.join(cur_dir, "oracles.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{os.path.join(BUILD, 'duckdb-tmp')}'")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{cur_dir}/documents.parquet/*.parquet'")
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        try:
            o = con.sql(sql)
            oc, orows = _canon(o.fetchall(), o.columns)
            s = con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'")
            sc, srows = _canon(s.fetchall(), s.columns)
            if oc != sc:
                verdicts[name] = f"columns {sc} vs oracle {oc}"
            elif len(orows) != len(srows):
                verdicts[name] = f"{len(srows)} rows vs oracle {len(orows)}"
            else:
                bad = next((i for i, (x, y) in enumerate(zip(srows, orows))
                            if not all(_eq(p, q) for p, q in zip(x, y))), None)
                verdicts[name] = None if bad is None else f"row {bad}: {srows[bad]} vs {orows[bad]}"
        except Exception as e:  # a broken oracle or result is a failed check
            verdicts[name] = f"{type(e).__name__}: {e}"
    return verdicts


DIGESTS = os.path.join(HERE, "oracle_digests.json")


def record_digests(cp, n):
    """Runs the curation queries in both hash families, checks the
    oracle-mode rows against DuckDB and, if they all match, records the
    production-mode digests the benchmark compares against."""
    args = argparse.Namespace(workload="curation_heavy", seed=0, seconds=0, trace=0)
    work = os.path.join(BUILD, "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res, n = run_jvm(cp, args, work, mode="record")
    cur = os.path.join(work, "cur")
    verdicts = check_oracles(cur, os.path.join(cur, "results", "md5"), n)
    for q, why in sorted(verdicts.items()):
        print(f"{'ok  ' if why is None else 'FAIL'} {q} {why or ''}", file=sys.stderr)
    if any(why is not None for why in verdicts.values()):
        die("oracle mismatch: digests not recorded")
    d = res["digests"]
    queries = sorted(verdicts)
    with open(DIGESTS, "w") as f:
        json.dump({"docs_note": "digests of CurationRun over Corpus.documents(CurationDocs)",
                   "xx64": {q: d[f"xx64/{q}"] for q in queries},
                   "md5": {q: d[f"md5/{q}"] for q in queries}}, f, indent=1)
        f.write("\n")
    print(f"recorded {DIGESTS}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--record-digests", action="store_true",
                    help="re-check the curation queries against DuckDB and record their digests")
    args = ap.parse_args()
    if not args.record_digests and None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no engine sources: {need} is missing from {ROOT}")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        die(f"cannot read BENCHMARK.json: {e}")

    cp = build()
    if args.record_digests:
        record_digests(cp, cores())
        return
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res, _ = run_jvm(cp, args, work)

    failed, attempted = res["failed"], res["attempted"]
    checks = res["checks"]
    if args.workload == "curation_heavy":
        with open(DIGESTS) as f:
            recorded = json.load(f)["xx64"]
        for q, runs in res["query_runs"].items():
            got, want = res["digests"].get(q), recorded.get(q)
            ok = got is not None and got == want
            checks.append({"name": f"{q} rows match the oracle-checked digest", "program": True,
                           "ok": ok, "detail": "" if ok else f"{got} vs {want}"})
            if not ok:  # every run of a wrong query is a failed operation
                failed += runs
    metrics = dict(res["metrics"])
    if not args.trace:
        metrics["ok_frac"] = 1.0 - failed / attempted if attempted else 0.0

    if set(metrics) != set(units):
        die(f"metric names differ from BENCHMARK.json: "
            f"extra {sorted(set(metrics) - set(units))}, missing {sorted(set(units) - set(metrics))}")
    bad = [k for k in metrics if not NAME_RE.match(k)]
    if bad:
        die(f"bad metric names {bad}")
    with open(os.path.join(work, "checks.json"), "w") as f:
        json.dump(checks, f, indent=1)
    for c in checks:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    # keep the result, trace and logs; drop the bulky tables
    for d in ("pages", "warm", "warm-again", "out", "cur", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    print(json.dumps({
        "correct": all(c["ok"] for c in checks if c["program"]),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }))


if __name__ == "__main__":
    main()
