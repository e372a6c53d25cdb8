#!/usr/bin/env python3
"""End-to-end benchmark of the IMDb daily pipeline and of two operator mixes.

    python3 benchmark/run.py --workload imdb_daily --seed 1 --seconds 20 --trace 0

Run it from the repository root (or any checkout of it).  The first run
builds the program and the harness with sbt; later runs reuse the build.
Each run starts a fresh JVM, generates its inputs from ``--seed``, runs the
workload's operation in a closed loop for ``--seconds`` (at least
``MIN_WARM`` warm operations), checks every operation's output, and prints
one JSON line as the last line of stdout:

    {"correct": true, "attempted": 6, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced loop.  Provenance (commit, inputs, conf, host
load) and the span dump go under ``.bench_work/runs/``.  See
benchmark/README.md for the workloads and metrics.
"""
import argparse
import datetime
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import imdbgen  # noqa: E402
import opsgen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
BUILD = os.path.join(ROOT, ".bench_build")
GOLDENS = os.path.join(HERE, "goldens.json")

# loop-read operators re-read small materialized state every round; the
# pair-grain ones build one-shot intermediates sized like the data
LOOP_QUERIES = ["q158_pagerank", "q57_dedup_components"]
PAIR_QUERIES = ["q217_dup_triangles", "q210_fuzzy_dup_pairs"]
WORKLOADS = {"imdb_daily": None, "ops_loop_pairs": LOOP_QUERIES + PAIR_QUERIES}

DEFAULT_SEED = 1         # the seed whose imdb_daily outputs have goldens
IMDB_TITLES = 10000      # dump size; about 17 rows of all tables per title
HISTORY_DAYS = 30        # prior daily slices already in the output root
TEMPLATE_SEED = 0        # dump the history slices are staged from
OPS_SEED = 42            # the operator tables are fixed; --seed permutes order
OPS_SF = 0.01
MIN_WARM = 3             # warm operations per run (traced runs: 2 traced)
# a fixed heap, so GC work does not follow adaptive heap resizing
HEAP = "3g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 840

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

SOURCES_NEEDED = ["build.sbt", "project/build.properties",
                  "src/main/scala/graft/pipeline/Runner.scala",
                  "src/main/scala/graft/Queries.scala",
                  "benchmark/harness/build.sbt"]


class BenchError(Exception):
    pass


def log(msg):
    print("[bench] " + msg, file=sys.stderr, flush=True)


# ── build ────────────────────────────────────────────────────────────────────

def source_digest():
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "benchmark/harness/build.sbt", "benchmark/harness/project/build.properties",
             "benchmark/harness/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile program + harness once per source state; return the classpath."""
    stamp = os.path.join(BUILD, "classpath-%s.txt" % digest)
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t = time.perf_counter()
    with open(os.path.join(BUILD, "sbt.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=logf, stdin=subprocess.DEVNULL, text=True,
            timeout=BUILD_DEADLINE_S)
    if p.returncode != 0:
        raise BenchError("sbt build failed (see .bench_build/sbt.log)")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        raise BenchError("sbt printed no classpath")
    log("build took %.1f s" % (time.perf_counter() - t))
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


# ── JVM processes ────────────────────────────────────────────────────────────

class Jvm:
    """One harness JVM; stdout carries the protocol, stderr goes to a log."""

    def __init__(self, classpath, mode, args, logname, deadline):
        os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
        os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
        cmd = ["java"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
        cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Dspark.local.dir=" + os.path.join(WORK, "tmp"),
                "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
                "-cp", classpath, "graftbench.Harness", mode]
        cmd += ["%s=%s" % kv for kv in args.items()]
        self.log = open(os.path.join(WORK, "logs", logname + ".log"), "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE,
                                     stderr=self.log, stdin=subprocess.DEVNULL,
                                     text=True)
        self.killed = False
        self.stopped = False
        self.timer = threading.Timer(max(1.0, deadline - time.perf_counter()), self.kill)
        self.timer.start()

    def kill(self):
        self.killed = True
        self.proc.kill()

    def stop_after_results(self):
        """All results are out: skip the JVM's own shutdown."""
        self.stopped = True
        self.proc.kill()

    def lines(self):
        for line in self.proc.stdout:
            yield line.rstrip("\n")

    def wait_ready(self):
        for line in self.lines():
            if line == "READY":
                return time.perf_counter() - self.t0
        raise BenchError("JVM ended before its session was ready")

    def close(self):
        try:
            if self.proc.poll() is None:
                try:
                    self.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.kill()
                    self.proc.wait()
        finally:
            self.timer.cancel()
            self.log.close()
        if self.killed:
            raise BenchError("JVM passed the run deadline and was killed")
        if self.proc.returncode != 0 and not self.stopped:
            raise BenchError("JVM exited with code %d" % self.proc.returncode)


def run_jvm(classpath, mode, args, logname, deadline):
    """Runs a harness JVM to the end; returns (setup_s, OP dicts, END dict)."""
    jvm = Jvm(classpath, mode, args, logname, deadline)
    try:
        setup = jvm.wait_ready()
        ops, end = [], None
        for line in jvm.lines():
            if line.startswith("OP "):
                ops.append(json.loads(line[3:]))
            elif line.startswith("END "):
                end = json.loads(line[4:])
                if mode == "run":
                    jvm.stop_after_results()
    finally:
        jvm.close()
    return setup, ops, end


# ── inputs ───────────────────────────────────────────────────────────────────

def day(i):
    return (datetime.date(2024, 1, 1) + datetime.timedelta(days=i)).strftime("%Y%m%d")


TEMPLATE_DATE = "20231231"


def file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def history_template(classpath, digest, deadline):
    """One Runner.run's published output, staged once per build."""
    root = os.path.join(WORK, "imdb", "template-%s-%s-%d-%d" % (
        digest, file_digest(imdbgen.__file__), TEMPLATE_SEED, IMDB_TITLES))
    done = os.path.join(root, "DONE")
    if os.path.exists(done):
        return os.path.join(root, "out")
    shutil.rmtree(root, ignore_errors=True)
    raw = os.path.join(root, "raw")
    imdbgen.generate(raw, TEMPLATE_SEED, IMDB_TITLES)
    log("staging the history template")
    run_jvm(classpath, "stage", {"raw": raw, "out": os.path.join(root, "out"),
                                 "date": TEMPLATE_DATE}, "stage", deadline)
    shutil.rmtree(raw)
    open(done, "w").close()
    return os.path.join(root, "out")


def stage_history(template, out):
    """Links the template slice in as HISTORY_DAYS prior daily slices."""
    shutil.rmtree(out, ignore_errors=True)
    dates = [day(i) for i in range(HISTORY_DAYS)]
    slice_dirs = (TEMPLATE_DATE, "run_date=" + TEMPLATE_DATE)
    for d, _, files in os.walk(template):
        parts = os.path.relpath(d, template).split(os.sep)
        if "_control" in parts:
            continue
        if not any(p in slice_dirs for p in parts):
            os.makedirs(os.path.join(out, *parts), exist_ok=True)
            for f in files:
                dst = os.path.join(out, *parts, f)
                if f == "_LATEST":
                    with open(dst, "w") as fh:
                        fh.write(dates[-1])
                else:
                    shutil.copyfile(os.path.join(d, f), dst)
            continue
        for h in dates:
            dst_dir = os.path.join(out, *[p.replace(TEMPLATE_DATE, h) for p in parts])
            os.makedirs(dst_dir, exist_ok=True)
            for f in files:
                os.link(os.path.join(d, f), os.path.join(dst_dir, f))


def ops_inputs():
    root = os.path.join(WORK, "ops-%s-%d-%s" % (file_digest(opsgen.__file__), OPS_SEED, OPS_SF))
    desc = os.path.join(root, "inputs.json")
    if not os.path.exists(desc):
        shutil.rmtree(root, ignore_errors=True)
        info = opsgen.generate(os.path.join(root, "data"), OPS_SEED, OPS_SF)
        with open(desc, "w") as f:
            json.dump(info, f)
    with open(desc) as f:
        return os.path.join(root, "data"), json.load(f)


# ── checks and metrics ───────────────────────────────────────────────────────

def median(xs):
    return statistics.median(xs) if xs else 0.0


def load_goldens():
    with open(GOLDENS) as f:
        return json.load(f)


def check_imdb(op, inputs, seed, goldens):
    """Problems with one Runner.run's output (empty list when correct)."""
    if "error" in op:
        return [op["error"]]
    bad = []
    expected = inputs["expected_rows"]
    if op["movie_fact_rows"] != expected["analytics_movie_facts_v2"]:
        bad.append("RunReport rows %d != %d" % (op["movie_fact_rows"],
                                                expected["analytics_movie_facts_v2"]))
    if set(op["ingest"].values()) != {"fetch"}:
        bad.append("ingest decisions %s" % op["ingest"])
    gold = goldens.get("imdb_daily", {})
    use_gold = (seed == gold.get("seed") and IMDB_TITLES == gold.get("titles"))
    for t, want in expected.items():
        got = op["digests"][t]
        if int(got.split(":")[0]) != want:
            bad.append("%s has %s rows, expected %d" % (t, got.split(":")[0], want))
        if use_gold and got != gold["digests"].get(t):
            bad.append("%s digest %s != golden %s" % (t, got, gold["digests"].get(t)))
    return bad


def check_queries(op, goldens):
    if "error" in op:
        return [op["error"]]
    gold = goldens.get("queries", {})
    bad = []
    for q, r in op["queries"].items():
        if r["digest"] != gold.get("digests", {}).get(q):
            bad.append("%s digest %s != golden %s" % (q, r["digest"],
                                                      gold.get("digests", {}).get(q)))
    if gold.get("sf") != OPS_SF or gold.get("seed") != OPS_SEED:
        bad.append("no goldens for the operator tables at sf %s" % OPS_SF)
    return bad


def e2e_metrics(workload, setup, ops, end, input_bytes):
    warm = [o["secs"] for o in ops[1:] if not o["traced"]]
    if workload == "imdb_daily":
        stored = [o["stored_bytes"] / input_bytes for o in ops]
    else:
        stored = [o["stored_peak_bytes"] / input_bytes for o in ops]
    return {
        "setup_s": (setup, "s"),
        "cold_s": (ops[0]["secs"], "s"),
        "op_s_p50": (median(warm), "s"),
        "stored_mb_peak": (median([o["stored_peak_bytes"] for o in ops]) / 2 ** 20, "MB"),
        "stored_bytes_per_input_byte": (median(stored), "ratio"),
    }


MODULES = ["pipeline", "sources", "analytics", "quality", "operators", "Queries"]
COUNTERS = [("jobs", "count"), ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
            ("scan_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
            ("shuffle_wait_s", "s"), ("spill_bytes", "bytes"),
            ("out_bytes", "bytes"), ("result_bytes", "bytes")]


def layer_metrics(ops):
    traced = [o for o in ops if o["traced"] and "error" not in o]
    untraced = [o["secs"] for o in ops[1:] if not o["traced"] and "error" not in o]
    m = {}
    for mod in MODULES:
        for i, (name, unit) in enumerate(COUNTERS):
            vals = [(o["layers"]["modules"].get(mod) or [0.0] * len(COUNTERS))[i]
                    for o in traced]
            m["%s.%s" % (mod, name)] = (median(vals), unit)
    lay = [o["layers"] for o in traced]
    m["pipeline.driver_s"] = (median([l["driver_s"] for l in lay]), "s")
    m["sources.out_files"] = (median([l["out_files"] for l in lay]), "count")
    m["sources.commit_s"] = (median([l["commit_s"] for l in lay]), "s")
    m["operators.materialize_s"] = (median([l["materialize_s"] for l in lay]), "s")
    m["operators.stored_mb_peak"] = (
        median([o["stored_peak_bytes"] for o in traced]) / 2 ** 20, "MB")
    m["operators.stored_mb_left"] = (median([o["bytes_left"] for o in traced]) / 2 ** 20, "MB")
    m["operators.rdd_blocks_left"] = (median([o["blocks_left"] for o in traced]), "count")
    for q in LOOP_QUERIES + PAIR_QUERIES:
        for part in ("build_s", "sink_s"):
            m["Queries.%s.%s" % (q, part)] = (median(
                [o["queries"][q][part] for o in traced if q in o.get("queries", {})]), "s")
    t = median([o["secs"] for o in traced])
    m["trace.op_s_p50"] = (t, "s")
    m["trace.overhead_s"] = (t - median(untraced), "s")
    return m


def cpu_steal_s():
    """Seconds of CPU the hypervisor gave to others, summed over CPUs."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ── main ─────────────────────────────────────────────────────────────────────

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in SOURCES_NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log("program sources not found next to the benchmark: " + ", ".join(missing))
        sys.exit(2)

    started = time.perf_counter()
    load_before = loadavg()
    steal_before = cpu_steal_s()
    digest = source_digest()
    classpath = build(digest)
    deadline = time.perf_counter() + RUN_DEADLINE_S
    nproc = os.cpu_count() or 1
    jvm_args = {"cpus": str(nproc), "workload": a.workload, "seconds": str(a.seconds),
                "trace": str(a.trace), "minWarm": str(2 if a.trace else MIN_WARM)}
    runs_dir = os.path.join(WORK, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    jvm_args["spans"] = os.path.join(runs_dir, tag + "-spans.json")

    out = None
    raw = None
    if a.workload == "imdb_daily":
        template = history_template(classpath, digest, time.perf_counter() + BUILD_DEADLINE_S)
        deadline = time.perf_counter() + RUN_DEADLINE_S
        raw = os.path.join(WORK, "imdb", "raw-%d" % a.seed)
        shutil.rmtree(raw, ignore_errors=True)
        inputs = imdbgen.generate(raw, a.seed, IMDB_TITLES)
        out = os.path.join(WORK, "imdb", "out")
        stage_history(template, out)
        input_bytes = inputs["bytes"]
        jvm_args.update(raw=raw, out=out,
                        dates=",".join(day(HISTORY_DAYS + i) for i in range(60)))
        order = None
    else:
        data, inputs = ops_inputs()
        input_bytes = inputs["bytes"]
        order = list(WORKLOADS[a.workload])
        random.Random(a.seed).shuffle(order)
        jvm_args.update(data=data, queries=",".join(order))

    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        setup, ops, end = run_jvm(classpath, "run", jvm_args, tag, deadline)
    finally:
        for d in (out, raw, tmp):
            if d:
                shutil.rmtree(d, ignore_errors=True)
    if not ops or end is None:
        raise BenchError("the harness reported no operations")

    goldens = load_goldens()
    problems = []
    failed = 0
    for op in ops:
        bad = (check_imdb(op, inputs, a.seed, goldens) if a.workload == "imdb_daily"
               else check_queries(op, goldens))
        if bad:
            failed += 1
            problems.append({"op": op["i"], "problems": bad})
    for p in problems[:5]:
        log("op %d failed its check: %s" % (p["op"], "; ".join(p["problems"])[:400]))

    metrics = (layer_metrics(ops) if a.trace else
               e2e_metrics(a.workload, setup, ops, end, input_bytes))
    provenance = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "commit": commit(), "source_digest": digest,
        "inputs": {k: v for k, v in inputs.items() if k != "edge_cases"},
        "query_order": order, "nproc": nproc,
        "heap": "-Xms%s -Xmx%s" % (HEAP, HEAP),
        "max_heap_mb": end.get("max_heap_mb"), "spark_version": end.get("spark_version"),
        "spark_conf": end.get("conf"), "setup_s": setup,
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "cpu_steal_s": None if steal_before is None else cpu_steal_s() - steal_before,
        "wall_s": time.perf_counter() - started, "problems": problems, "ops": ops,
    }
    with open(os.path.join(runs_dir, tag + ".json"), "w") as f:
        json.dump(provenance, f, indent=1)
    log("%s: %d ops, %d failed, %.1f s wall, load %s -> %s" % (
        tag, len(ops), failed, provenance["wall_s"], load_before, provenance["loadavg_after"]))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log("benchmark failed: %s" % e)
        sys.exit(1)
