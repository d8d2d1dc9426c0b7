#!/usr/bin/env python3
"""Closed-loop benchmark of the ETL pipeline and the query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (sizes in perfbench/workloads.json):

  etl_full           Pipeline.run of a generated base period into a fresh root
  etl_incremental    Pipeline.run of one more month on a copy of a loaded root (by hand)
  queries_spine      passes over 24 relational registry queries (by hand)
  queries_iterative  passes over the driver-loop registry queries

The first run in a checkout compiles the repository and the harness
(perfbench/build.sbt) with sbt and caches the classpath under
perfbench/.build. Each run generates its ETL inputs from --seed (the
query workloads read the reference tables in perfbench/data and take
only their query order from --seed) into its own directory under
perfbench/.work, starts one JVM (perfbench.Main) with its own
java.io.tmpdir, measures for --seconds, checks every output
(the ETL model in perfbench/gen_etl.py, the DuckDB oracle for queries)
and removes its directory. The last stdout line is one JSON object:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_etl  # noqa: E402  (imported before any timing starts)

WORKLOADS = ("etl_full", "etl_incremental", "queries_spine", "queries_iterative")
DEADLINE_S = 170  # a run must end within 180 s
STOP_RESERVE_S = 30  # left for the output checks and the JVM's exit
# Spark on JDK 17 outside spark-submit (the list build.sbt forks with)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def _newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for root, _dirs, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    return newest


def build():
    """Compile the repository and the harness when the sources changed;
    returns the runtime classpath."""
    sources = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "src", "main", "scala")]
    if not all(os.path.exists(p) for p in sources):
        fail("no repository sources beside perfbench/ (build.sbt, src/main/scala)")
    stamp = os.path.join(HERE, ".build", "classpath.txt")
    watched = sources + [os.path.join(REPO, "project"), os.path.join(HERE, "build.sbt"),
                         os.path.join(HERE, "src")]
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= _newest_mtime(watched):
        with open(stamp) as f:
            return f.read().strip()
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building (sbt compile) ...")
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=800)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    sys.stderr.write(proc.stdout[-4000:])
    lines = [ln for ln in proc.stdout.splitlines() if "perfbench" in ln and ln.count(":") > 2]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode})")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def percentile(xs, p):
    """Linear-interpolated percentile (p in 0..100)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """Highest whole percentile with at least 10 samples beyond it."""
    return int(100 * (1 - 10 / n)) if n >= 20 else None


def dominant_shares(t):
    """The shares that show each workload's intended dominant layer."""
    g = lambda k: float(t.get(k) or 0.0)
    spans = sum(g(k) for k in ("sources.fetch_s", "sources.csv_s", "silver.bcb_s",
                               "silver.anp_s", "silver.gold_s", "pipeline.swap_write_s",
                               "pipeline.stage_s", "pipeline.commit_s", "pipeline.heal_s",
                               "pipeline.summary_s"))
    query = g("queries.construct_s") + g("queries.execute_s")
    catalyst = g("catalyst.analysis_s") + g("catalyst.optimization_s") + g("catalyst.planning_s")
    parts = [f"executor.util={g('executor.util'):.3f}", f"scheduler.jobs={g('scheduler.jobs'):.0f}"]
    if spans:
        parts.append(f"swap_write share of layer spans={g('pipeline.swap_write_s') / spans:.3f}")
    if query:
        parts += [f"construct share={g('queries.construct_s') / query:.3f}",
                  f"catalyst share={catalyst / query:.3f}",
                  f"launch (gap) share={g('scheduler.gap_s') / query:.3f}"]
    return ", ".join(parts)


def prepare(workload, seed, work, spec):
    """Generate or locate the run's inputs; returns (harness config part, input bytes)."""
    if workload.startswith("etl_"):
        e = spec["etl"]
        st = gen_etl.EtlState(seed, e["months"], e["rows_per_month"], e["series"])
        base = os.path.join(work, "in_base")
        nbytes = st.write(base)
        cfg = {"series_csv": os.path.join(base, "bcb_series.csv"),
               "base": {"dir": base, "start": st.start_date, "end": st.end_date,
                        "model": st.model()}}
        if workload == "etl_incremental":
            since = st.months
            st.add_month()
            inc = os.path.join(work, "in_inc")
            nbytes = st.write(inc)
            cfg["inc"] = {"dir": inc, "start": st.start_date, "end": st.end_date,
                          "model": st.model(since)}
        return {"etl": cfg}, nbytes
    q = spec["queries"]
    # the repository's reference tables, read in place; the seed only
    # permutes the query order of each pass
    data = os.path.join(HERE, q["data"])
    nbytes = sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data))
    if workload == "queries_spine":
        names, families = q["spine"], {}
    else:
        names, families = list(q["iterative"]), q["iterative"]
    return {"queries": {"data": data, "names": names, "families": families,
                        "dump": os.path.join(work, "results")}}, nbytes


def run_harness(cfg_path, cp, work, memory, deadline):
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{memory}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS,
           "-cp", cp, "perfbench.Main", cfg_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's scratch must stay in the run directory; the variable would win
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, env=env)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("harness ran past the deadline")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        fail(f"harness exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench_path = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_path) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    before_build = time.time() - started
    cp = build()
    deadline = time.time() + DEADLINE_S - before_build  # the build may take longer

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        setup0 = time.time()
        part, input_bytes = prepare(args.workload, args.seed, work, spec)
        prepared_s = time.time() - setup0
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": bool(args.trace), "cpus": len(os.sched_getaffinity(0)),
               "work": work, "result": os.path.join(work, "result.json"),
               "stop_by_ms": int((deadline - STOP_RESERVE_S) * 1000), **part}
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        run_harness(cfg_path, cp, work, spec["driver_memory"], deadline)
        with open(cfg["result"]) as f:
            res = json.load(f)
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if "queries" in part:
            import oracle  # needs tools/parity.py of the repository
            q = part["queries"]
            for name, why in oracle.check(q["data"], q["dump"], q["names"]).items():
                attempted += 1
                if why:
                    failed += 1
                    failures.append(f"oracle {name}: {why}")
        stored = res["stored_bytes"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in failures[:20]:
        log(f"FAILED {msg}")
    # a failed ETL unit has no wall time (null); it is counted in `failed`
    units = [u for u in res["units"] if u is not None]
    lat = [u for u in res["latencies"] if u is not None]
    nan = float("nan")
    e2e = {
        "setup_s": res["setup_end_ms"] / 1e3 - setup0,
        "first_run_s": nan if res["first_s"] is None else res["first_s"],
        "run_wall_s": statistics.median(units) if units else nan,
        "latency_p50_s": percentile(lat, 50),
        "latency_p90_s": percentile(lat, 90),
        "stored_bytes_ratio": stored / input_bytes,
    }
    samples = {"setup_s": 1, "first_run_s": 1, "run_wall_s": len(units),
               "latency_p50_s": len(lat), "latency_p90_s": len(lat), "stored_bytes_ratio": 1}
    log(f"setup {e2e['setup_s']:.3f} s (inputs {prepared_s:.3f} s, session {res['session_s']:.3f} s); "
        f"first unit {e2e['first_run_s']:.3f} s; warm units " +
        ", ".join(f"{u:.3f}" for u in units) + " s")
    for name, v in e2e.items():
        n = samples[name]
        tail = tail_percentile(n)
        unit = "ratio" if name.endswith("_ratio") else "s"
        print(f"{args.workload} {name} = {v:.6g} {unit} (n={n}, highest "
              f"percentile with >=10 samples beyond it: {f'p{tail}' if tail else 'none'})")
    print(f"{args.workload} failed_ratio = {failed / max(1, attempted):.6g} ratio "
          f"(n={attempted})")
    if args.trace:
        trace = res["trace"]
        print(f"{args.workload} dominant layers: " + dominant_shares(trace))
        metrics = {m["name"]: {"value": float(trace.get(m["name"]) or 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        for name, m in metrics.items():
            print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    log(f"run took {time.time() - started:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
