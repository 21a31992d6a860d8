#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload medallion --seed 7 --seconds 15 --trace 0

Builds the engine and the harness from source on first use, generates the
inputs, runs the workload in one driver JVM on local[min(4, nproc)],
checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics. Exits 1 when any output
is wrong (after printing the line) and 2 or 3 when it cannot run at all.
"""

import argparse
import glob
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
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

SCALE = 0.001
WORKLOADS = ("medallion", "kernels_lake")
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 840.0

HARNESS = os.path.join(HERE, "harness")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")
EXPECTED = os.path.join(HERE, "expected.json")

LAYERS = ("bronze", "silver", "quality", "pbp", "rollup", "ratings", "gold",
          "operators.graph", "operators.cluster", "queries.walk",
          "streaming.ingest", "streaming.maintain", "streaming.serve")
LAYER_METRICS = (("wall_s", "s"), ("jobs", "count"), ("exec_cpu_s", "s"),
                 ("driver_gap_s", "s"), ("shuffle_mb", "MB"),
                 ("write_mb", "MB"), ("list_ops", "count"),
                 ("exchanges", "count"), ("fallback_exprs", "count"))

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


CHILDREN = []  # processes this run started, stopped on any exit


def _kill(p):
    """Kill `p` and everything it started (it leads its own session)."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    p.wait()


def _stop_children():
    for p in CHILDREN:
        _kill(p)


class Fatal(Exception):
    def __init__(self, msg, code=3):
        super().__init__(msg)
        self.code = code


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _sources():
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(HARNESS, "src"), ENGINE_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def _wait(p, limit, what):
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        _kill(p)
        raise Fatal(f"{what} timed out")


def _java(jar, main_args, extra=()):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise Fatal("SPARK_HOME is not set", 2)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + ADD_OPENS + list(extra) +
            ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", jar + os.pathsep + os.path.join(spark_home, "jars", "*"),
             "perfbench.Main"] + [str(a) for a in main_args])


def build():
    """Compile engine + harness with sbt into one jar, unless the sources
    are unchanged since the last build in this checkout. Returns
    (jar, built)."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    target = os.path.join(HARNESS, "target")
    jar = os.path.join(target, "perfbench.jar")
    stamp_file = os.path.join(target, "perfbench.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, False
    log("building engine and harness with sbt")
    blog = os.path.join(WORK, "build.log")
    with open(blog, "w") as out:
        sbt = subprocess.Popen(["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
                               cwd=HARNESS, stdout=out, stderr=subprocess.STDOUT,
                               start_new_session=True)
        CHILDREN.append(sbt)
        rc = _wait(sbt, BUILD_LIMIT_S, "build")
        if rc == 0:
            classes = os.path.join(target, "scala-2.13", "classes")
            rc = _wait(subprocess.Popen(["jar", "cf", jar, "-C", classes, "."],
                                        stdout=out, stderr=subprocess.STDOUT,
                                        start_new_session=True), 120, "jar")
    if rc != 0:
        with open(blog, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise Fatal(f"build failed ({rc})")
    for f in glob.glob(os.path.join(target, "*.jsa")):
        os.remove(f)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, True


def run_jvm(jar, workload, args, deadline, traced):
    """Run the harness. The first untraced run of a workload after a build
    records a class-data-sharing archive of the classes it loaded; later
    runs map it, which takes class loading out of JVM start and the cold
    pass."""
    jsa = os.path.join(HARNESS, "target", f"perfbench-{workload}.jsa")
    fresh = jsa + ".tmp"
    if os.path.exists(fresh):
        os.remove(fresh)
    if os.path.exists(jsa):
        extra = [f"-XX:SharedArchiveFile={jsa}"]
    else:
        extra = [] if traced else [f"-XX:ArchiveClassesAtExit={fresh}"]
    logf = os.path.join(WORK, "jvm.log")
    with open(logf, "w") as out:
        p = subprocess.Popen(_java(jar, args, extra), cwd=WORK, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        CHILDREN.append(p)
        rc = _wait(p, max(1.0, deadline - time.time()), "run")
    if os.path.exists(fresh):
        if rc == 0:
            os.replace(fresh, jsa)
        else:
            os.remove(fresh)
    if rc != 0:
        shutil.copy(logf, os.path.join(RUNS, "failed-jvm.log"))
        with open(logf, errors="replace") as f:
            lines = [l for l in f if "WARN" not in l and "INFO" not in l]
        sys.stderr.write("".join(lines[-40:]))
        raise Fatal(f"harness exited {rc}")


def layer_metrics(res):
    """Per-layer metrics: the median over traced passes of each layer's
    per-pass totals."""
    spans = [s for s in res["spans"] if s["layer"]]
    traced = {i + 1 for i, p in enumerate(res["passes"]) if p["traced"]}
    by_span = {}
    for kind in ("jobs", "stages", "plans"):
        for e in res[kind]:
            by_span.setdefault(e["span"], {}).setdefault(kind, []).append(e)
    per = {}  # (layer, metric) -> [per-pass value]
    for layer in LAYERS:
        for p in sorted(traced):
            ss = [s for s in spans if s["layer"] == layer and s["pass"] == p]
            v = dict.fromkeys((m for m, _ in LAYER_METRICS), 0.0)
            for s in ss:
                ev = by_span.get(s["id"], {})
                jobs = [(j["start"], j["end"]) for j in ev.get("jobs", [])]
                v["wall_s"] += (s["end"] - s["start"]) / 1e3
                v["jobs"] += len(jobs)
                v["driver_gap_s"] += stats.driver_gap((s["start"], s["end"]), jobs) / 1e3
                v["exec_cpu_s"] += sum(x["cpu_ns"] for x in ev.get("stages", [])) / 1e9
                v["shuffle_mb"] += sum(x["shuffle_write_bytes"] for x in ev.get("stages", [])) / 1e6
                v["write_mb"] += s["write_bytes"] / 1e6
                v["list_ops"] += s["list_ops"]
                v["exchanges"] += sum(x["exchanges"] for x in ev.get("plans", []))
                v["fallback_exprs"] += sum(x["fallbacks"] for x in ev.get("plans", []))
            for m, x in v.items():
                per.setdefault((layer, m), []).append(x)
    out = {}
    for layer in LAYERS:
        for m, unit in LAYER_METRICS:
            vals = per.get((layer, m), [0.0])
            out[f"{layer}.{m}"] = {"value": stats.median(vals), "unit": unit}
    walls = lambda t: [p["wall_s"] for p in res["passes"] if p["traced"] == t]
    refs = [p["host_ref_s"] for p in res["passes"] if p["traced"]]
    out["host.ref_s"] = {"value": stats.median(refs), "unit": "s"}
    out["driver.live_heap_mb"] = {"value": res["live_heap_mb"], "unit": "MB"}
    out["trace_overhead"] = {
        "value": stats.median(walls(True)) / stats.median(walls(False)),
        "unit": "ratio"}
    return out


def end_to_end(res):
    passes = res["passes"]
    med = lambda k: stats.median([p[k] for p in passes])
    return {
        "setup_s": {"value": res["session_s"] + res["stage_s"]
                    + res["warm_s"], "unit": "s"},
        "pass_s": {"value": med("wall_s"), "unit": "s"},
        "cpu_s": {"value": med("cpu_s"), "unit": "s"},
        "driver_peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        "lake_write_mb": {"value": med("write_bytes") / 1e6, "unit": "MB"},
    }


def trace_record(res):
    """Spans of traced passes with their self times, for the trace file."""
    spans = {s["id"]: (s["parent"], s["start"], s["end"]) for s in res["spans"]}
    self_t = stats.self_times(spans)
    return [dict(s, self_ms=round(self_t[s["id"]], 3)) for s in res["spans"]]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t0 = time.time()

    if not os.path.isdir(ENGINE_SRC):
        raise Fatal(f"engine sources not found at {os.path.relpath(ENGINE_SRC, os.getcwd())}", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        raise Fatal("java and sbt are required", 2)
    shutil.rmtree(WORK, ignore_errors=True)
    for d in (WORK, CACHE, RUNS):
        os.makedirs(d, exist_ok=True)
    try:
        jar, built = build()
        # a run has RUN_LIMIT_S; a build in this run does not eat into it
        deadline = (time.time() if built else t0) + RUN_LIMIT_S

        data = os.path.join(WORK, "data")
        gen.generate(data, SCALE)
        out = os.path.join(WORK, "run.json")
        run_jvm(jar, a.workload, [a.workload, a.seed, a.seconds, a.trace, data, WORK, out],
                deadline, a.trace == 1)
        with open(out) as f:
            res = json.load(f)

        pins = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                pins = json.load(f).get(a.workload, {})
        con = check.connect(data)
        with open(gen.__file__, "rb") as f:
            data_key = f"{SCALE}:{gen.BASE_SEED}:" + hashlib.sha256(f.read()).hexdigest()
        mismatches = check.check_tables(
            con, os.path.join(WORK, "check"), res["check_tables"], res["oracles"],
            pins, os.path.join(CACHE, "oracle.json"), data_key)
        con.close()
        if a.workload == "medallion":
            bad = [g["table"] for g in res["gold_status"] if not g["ok"]]
            if len(res["gold_status"]) != 7 or bad:
                mismatches.append(f"gold tables not published: {bad}")
            if not res["validated"]:
                mismatches.append("gold validation did not pass")

        for m in res["failures"] + mismatches:
            log(f"FAILED {m}")
        attempted, failed, _ = stats.count_errors(
            res["attempted"], len(res["failures"]), len(mismatches))
        metrics = layer_metrics(res) if a.trace else end_to_end(res)
        line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
        tag = f"{a.workload}-s{a.seed}-t{a.trace}"
        with open(os.path.join(RUNS, f"{tag}.trace.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": trace_record(res),
                       "jobs": res["jobs"], "stages": res["stages"],
                       "plans": res["plans"], "passes": res["passes"]}, f)
        with open(os.path.join(RUNS, "results.jsonl"), "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "host_ref_s": stats.median([p["host_ref_s"] for p in res["passes"]]),
                                **{k: res[k] for k in ("session_s", "stage_s", "warm_s")},
                                **line}) + "\n")
        print(json.dumps(line), flush=True)
        return 0 if failed == 0 else 1
    finally:
        _stop_children()
        shutil.rmtree(WORK, ignore_errors=True)


def _terminated(signum, frame):
    raise Fatal(f"terminated by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminated)
    try:
        sys.exit(main(sys.argv[1:]))
    except Fatal as e:
        log(f"error: {e}")
        sys.exit(e.code)
