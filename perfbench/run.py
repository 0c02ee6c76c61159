#!/usr/bin/env python3
"""The repository benchmark: the closed market loop and a slice of the
sf0.1 query catalog, measured end to end (``--trace 0``) or per layer
(``--trace 1``).

    python3 perfbench/run.py --workload loop_steady --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles ``src/main`` and
the harness in ``perfbench/scala`` with the Scala compiler shipped in
Spark's jars (``$SPARK_HOME/jars``, else the ``unmanagedBase`` of
``build.sbt``) into ``.bench_build/``; later runs reuse it while the
sources are unchanged. The catalog reads the sf0.1 tables from
``SPARK_GRAFT_SF_DIR``, else from the directory TESTDATA.md lists for
sf 0.1.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it stamps the run's environment. Exit code 0 on a
finished run (``correct`` says whether its outputs were right); any
other code, with no result line, when the benchmark could not run.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import logs  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("loop_steady", "loop_heavy")
HEAP = "2g"
# a generator tick later than this makes the run invalid
LATE_BOUND_MS = 200.0
# a run ends within 180 s; the first in a checkout, which compiles, within 900 s
RUN_LIMIT_S, FIRST_RUN_LIMIT_S = 170, 870
ORACLE_RESERVE_S = 15
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BenchError("no Spark jars: set SPARK_HOME")


def sf_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        doc = os.path.join(ROOT, "TESTDATA.md")
        m = os.path.exists(doc) and re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(doc).read(), re.M)
        d = m.group(1) if m else None
    if not d or not os.path.exists(os.path.join(d, "lineitem.parquet")):
        raise BenchError("no sf0.1 tables: set SPARK_GRAFT_SF_DIR")
    return d.rstrip("/")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                  recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main or not bench:
        raise BenchError("no Scala sources under src/main/scala or perfbench/scala")
    return main, bench


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(out, files, classpath):
    """scalac ``files`` into ``out`` once; reuse it while ``out/ok`` exists.
    Returns whether it compiled."""
    if os.path.exists(os.path.join(out, "ok")):
        return False
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    t0 = time.time()
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n%s" % r.stdout[-4000:])
    log("compiled %d files in %.0f s" % (len(files), time.time() - t0))
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return True


def build():
    """Compile the program (``src/main``) and the harness; return the
    classpath entries, the source digest and whether anything compiled."""
    main, bench = sources()
    classes = os.path.join(BUILD, "classes-" + _digest(main))
    digest = _digest(main + bench)
    harness = os.path.join(BUILD, "bench-" + digest)
    compiled = _compile(classes, main, None)
    compiled = _compile(harness, bench, classes) or compiled
    return [harness, classes], digest, compiled


def jvm(classpath, args, out_dir, timeout):
    """Run perfbench.Main in its own process group; wait for it to end."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join(classpath + [os.path.join(spark_jars(), "*")])
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    t0 = time.time()
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=out_dir,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
            log("JVM ran %.1f s" % (time.time() - t0))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise BenchError("benchmark JVM timed out after %d s" % timeout)
    if rc != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError("benchmark JVM exited %d:\n%s" % (rc, tail))
    with open(os.path.join(out_dir, "report.json")) as f:
        return json.load(f)


# ------------------------------------------------------------- checks

def oracle_check(sf, oracle_dir, timeout=120):
    """Run the repository's DuckDB compare (tools/check_oracle.py) on the
    slice's results; return the names it did not pass."""
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        names = set(json.load(f))
    script = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.exists(script):
        raise BenchError("tools/check_oracle.py is missing")
    r = subprocess.run([sys.executable, script, sf, oracle_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=timeout,
                       env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    passed = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("PASS ")}
    failed = sorted(names - passed)
    for line in r.stdout.splitlines():
        if line.split(" ", 1)[0] in ("MISSING", "ERROR", "SCHEMA", "ROWS", "VALUES"):
            log("oracle: " + line)
    return failed


# ------------------------------------------------------------ metrics

def stamp(args, digest, load_before, report, late_p99):
    commit = "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0:
            commit = r.stdout.strip()
    except OSError:
        pass
    return {
        "nproc": os.cpu_count(), "cpus": report.get("cpus"),
        "loadavg_before": load_before, "loadavg_after": list(os.getloadavg()),
        "heap": HEAP, "heap_max_mb": report.get("heap_max_mb"),
        "commit": commit, "source_digest": digest, "seed": args.seed,
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "gen_late_p99_ms": late_p99, "late_bound_ms": LATE_BOUND_MS,
        "valid": late_p99 <= LATE_BOUND_MS,
    }


def measure(args):
    if args.workload not in WORKLOADS:
        raise BenchError("unknown workload %r (one of %s)" % (args.workload, ", ".join(WORKLOADS)))
    start = time.time()
    sf = sf_dir()
    classpath, digest, compiled = build()
    deadline = start + (FIRST_RUN_LIMIT_S if compiled else RUN_LIMIT_S)
    load_before = list(os.getloadavg())
    run_dir = os.path.join(OUT, "%s-%d-%d-%d" % (args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cpus = str(len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
                   else os.cpu_count())
        report = jvm(classpath, ["--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--out", run_dir, "--sf", sf, "--cpus", cpus], run_dir,
                     timeout=deadline - time.time() - ORACLE_RESERVE_S)
        loop, catalog = report["loop"], report["catalog"]
        lates = [t["publish_ms"] - t["due_ms"] for t in loop["ticks"]]
        late_p99 = logs.percentile(lates, 99)

        loop_e2e, loop_layer = logs.loop_metrics(loop)
        stages = []
        if args.trace:
            with open(os.path.join(run_dir, "stages.jsonl")) as f:
                stages = [json.loads(x) for x in f if x.strip()]
        families = [n[len("catalog."):-len("_s")] for n, _ in spec("per_layer")
                    if n.startswith("catalog.")]
        cat_e2e, cat_layer = logs.catalog_metrics(catalog["queries"], stages, families)

        bad_queries = set(x["name"] for x in catalog["queries"] if x.get("error"))
        t0 = time.time()
        bad_queries |= set(oracle_check(sf, catalog["oracle_dir"],
                                        timeout=max(5.0, deadline - time.time())))
        log("phases: session %.1f s, loop warm-up %.1f s, drain wait %.1f s, checks %.1f s, "
            "catalog warm-up %.1f s, oracle compare %.1f s, stop %.1f s" % (
                report["session_s"], loop["warm_s"], loop["drain_wait_s"], loop["check_s"],
                catalog["warm_s"], time.time() - t0, loop["stop_s"]))
        for flag, what in (("warmed", "warm-up"), ("drained", "drain")):
            if not loop[flag]:
                log("the loop's %s did not finish in its time limit" % what)
        checks = loop["checks"]
        loop_failed = checks["failed"]
        attempted = (loop["orders"] + loop["invests"] + checks.get("accepted_invests", 0)
                     + checks.get("traders", 0) + len(catalog["queries"]))
        failed = loop_failed + len(bad_queries)
        for k, v in sorted(checks.items()):
            if v and k not in ("traders", "accepted_invests", "events", "failed"):
                log("loop check %s = %d" % (k, v))
        if bad_queries:
            log("catalog failures: " + ", ".join(sorted(bad_queries)))

        e2e = dict(loop_e2e, **cat_e2e)
        e2e["setup_s"] = report["session_s"] + loop["warm_s"] + catalog["warm_s"]
        e2e["peak_rss_mb"] = report["peak_rss_kb"] / 1024.0
        env = stamp(args, digest, load_before, report, late_p99)
        if not env["valid"]:
            log("generator ran late: p99 %.0f ms > %.0f ms; run is invalid" % (late_p99, LATE_BOUND_MS))

        if args.trace:
            layer = dict(loop_layer, **cat_layer)
            layer.update(traced_layer(loop, catalog, e2e, late_p99, failed / attempted))
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(traces, report["run_id"] + ".spans.jsonl"))
            metrics = {n: {"value": layer.get(n, float("nan")), "unit": u}
                       for n, u in spec("per_layer")}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in spec("end_to_end")}
        env["support"] = {k: loop_layer[k] for k in loop_layer if k.startswith("support.")}
        return env, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                     "metrics": metrics}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def traced_layer(loop, catalog, e2e, late_p99, error_rate):
    """The per-layer figures only the traced run has: micro-batch progress,
    the single-threaded baseline, table partitions, and this run's own
    end-to-end figures (``traced.*``; minus an untraced run's, they are
    the tracing overhead)."""
    with open(os.path.join(loop["root"], "progress.jsonl")) as f:
        layer = logs.progress_metrics([json.loads(x) for x in f if x.strip()],
                                      loop["measure_start_ms"])
    model, checks = loop["model"], loop["checks"]
    layer["model.j1_replay_ns_per_event"] = model["j1_replay_ns_per_event"]
    layer["model.ledger_ns_per_update"] = model["ledger_ns_per_update"]
    layer["model.j1_replay_rps"] = 1e9 / model["j1_replay_ns_per_event"]
    layer["streaming.j1.rps_over_model"] = (layer.get("streaming.j1.rps", float("nan"))
                                            / layer["model.j1_replay_rps"])
    for t in ("lineitem", "events", "documents"):
        layer["tables.%s.partitions" % t] = catalog["table_partitions"][t]
    layer["gen.late_p99_ms"] = late_p99
    layer["gen.orders"] = loop["orders"]
    layer["error_rate"] = error_rate
    layer["check.ledger_time_differs"] = checks.get("ledger_time_differs", 0)
    layer["check.rejected"] = checks.get("rejected", 0)
    layer.update(("traced." + k, v) for k, v in e2e.items())
    return layer


def spec(kind):
    """(name, unit) of every ``end_to_end`` or ``per_layer`` metric."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def clean(value):
    return None if isinstance(value, float) and (math.isnan(value) or math.isinf(value)) else value


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        env, result = measure(args)
    except (BenchError, OSError, KeyError, ValueError, subprocess.SubprocessError) as e:
        log("error: %s" % e)
        return 2
    for m in result["metrics"].values():
        m["value"] = clean(m["value"])
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
