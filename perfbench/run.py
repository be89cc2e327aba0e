#!/usr/bin/env python3
"""Run one benchmark workload on one seeded input image.

    python3 perfbench/run.py --workload verbs-sf0.01 --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from the checkout's sources (sbt, once
per source state), makes the seeded image, runs one harness JVM and
checks every query's output against its DuckDB oracle (once per image)
or against the digest verified then. Human-readable notes go to stderr;
the last line of stdout is the result JSON. README.md has the details.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 150

# Spark 4 on JDK 17 outside spark-submit needs these opens.
OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for a in ("--add-opens", p + "=ALL-UNNAMED")]

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "setup.session_s": "s",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "sources.write_bytes": "bytes", "sources.construct_jobs": "count",
    "api.build_s": "s",
    "operators.eager_jobs": "count",
    "operators.pins_peak": "count", "operators.cache_bytes_peak": "bytes",
    "operators.pins_leaked": "count", "operators.verify_yield": "ratio",
    "plans.minhash_ns_row": "ns", "plans.simhash_ns_row": "ns",
    "plans.winnow_ns_row": "ns", "plans.cosine_ns_row": "ns",
    "plans.nfc_ns_row": "ns", "plans.feature_hash_ns_row": "ns",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.exchanges": "count",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.idle_core_s": "s", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.gc_s": "s", "trace.overhead_s": "s",
}


def note(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    note(msg)
    sys.exit(code)


def spark_home():
    """The Spark installation the engine builds and runs against:
    $SPARK_HOME, else the first directory on PATH holding a spark-submit
    next to a jars directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("no Spark installation found: set SPARK_HOME")


def build():
    """Compile engine + harness unless the sources are unchanged since
    the last successful build in this checkout."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die("engine sources not found in " + ROOT)
    digest = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                return
    note("building engine and harness with sbt")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_proc(["sbt", "-batch", "compile"], HERE, out, 800,
                        dict(os.environ, SPARK_HOME=spark_home()))
    if code != 0:
        die("build failed, see " + log, 3)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


def run_proc(cmd, cwd, out, timeout, env=None):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `timeout`. Returns the exit code."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True, env=env)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def java(main, args, run_dir, env=None):
    os.makedirs(run_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(spark_home(), "jars", "*")])
    cmd = (["java", "-Xmx2g", "-Djava.io.tmpdir=" + tmp] + OPENS +
           ["-cp", cp, main] + args)
    # Spark's scratch space stays in the checkout: spark.local.dir is set
    # by the harness, and this variable would override it
    env = dict(env or os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        code = run_proc(cmd, run_dir, out, JVM_TIMEOUT_S, env)
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        die(f"{main} exited with {code}; last output:\n{tail}", 4)


def make_image(wl, seed):
    """The seeded image directory for workload `wl`, made once per seed."""
    import image
    seeded = os.path.join(WORK, "images", f"{wl['base']}-s{seed}")
    if not os.path.exists(os.path.join(seeded, "layout.json")):
        layout = image.build(os.path.join(HERE, "data", wl["base"]), seed, seeded)
        with open(os.path.join(seeded, "layout.json"), "w") as fh:
            json.dump(layout, fh)
    if not wl["scale"]:
        return seeded
    scaled = seeded + "-x10"
    if not os.path.exists(os.path.join(scaled, "layout.json")):
        shutil.rmtree(scaled + ".tmp", ignore_errors=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
        java("graft.ScaleUp", [seeded, scaled + ".tmp"],
             os.path.join(WORK, "scaleup"), env)
        shutil.rmtree(scaled, ignore_errors=True)
        os.rename(scaled + ".tmp", scaled)
        with open(os.path.join(scaled, "layout.json"), "w") as fh:
            json.dump(image.table_stats(scaled), fh)
    return scaled


def check_outputs(result, image_dir, run_dir):
    """{query: reason} for every query whose output is wrong. A query
    without a verified digest on this image has its written result
    compared with its oracle, and its digest is kept if they agree; a
    query with one must reproduce that digest."""
    bad = dict(result["errors"])
    verified = load_verified(image_dir)
    con = None
    for q in result["queries"]:
        if q in bad:
            continue
        got = result["digests"].get(q)
        if q in verified:
            if got != verified[q]:
                bad[q] = f"digest {got} != verified {verified[q]}"
            continue
        sql = result["oracle_sql"].get(q)
        if sql is None:
            bad[q] = "no oracle SQL"
            continue
        if con is None:
            import oracle
            con = oracle.connect(image_dir)
        why = oracle.check(con, sql, os.path.join(run_dir, "results", q))
        if why:
            bad[q] = "oracle mismatch: " + why
        else:
            verified[q] = got
    with open(os.path.join(image_dir, "verified.json"), "w") as fh:
        json.dump(verified, fh, indent=1, sort_keys=True)
    return bad


def load_verified(image_dir):
    """{query: digest} of the results verified on this image so far."""
    path = os.path.join(image_dir, "verified.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def self_times(spans):
    """Seconds of each layer's span time not covered by its child spans,
    summed over the spans of warm passes."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["pass"] == 0:
            continue
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []))
        cover, reach = 0.0, s["start_ms"]
        for a, b in ivs:
            a = max(a, reach)
            if b > a:
                cover += b - a
                reach = b
        own = max(0.0, s["end_ms"] - s["start_ms"] - cover) / 1e3
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # fault injection for the self-test
    ap.add_argument("--inject-throw", action="append", default=[])
    ap.add_argument("--inject-leak", action="append", default=[])
    a = ap.parse_args()

    from workloads import WORKLOADS
    wl = WORKLOADS.get(a.workload)
    if wl is None:
        die(f"unknown workload {a.workload}; have {sorted(WORKLOADS)}")
    os.makedirs(WORK, exist_ok=True)
    build()
    image_dir = make_image(wl, a.seed)

    order = list(wl["queries"])
    random.Random(a.seed).shuffle(order)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    # a fixed number of warm passes per workload and --seconds, sized
    # from the workload's reference timings, so that both sides of a
    # comparison measure the same work
    ref = wl["reference"]
    warm_passes = max(2, round((a.seconds - ref["cold_s"]) / ref["pass_s"]))
    args = ["--image", image_dir, "--queries", ",".join(order),
            "--passes", str(warm_passes), "--trace", str(a.trace),
            "--out", run_dir]
    for q in a.inject_throw:
        args += ["--throw", q]
    for q in a.inject_leak:
        args += ["--leak", q]
    java("perfbench.Harness", args, run_dir)
    with open(os.path.join(run_dir, "result.json")) as fh:
        result = json.load(fh)

    bad = check_outputs(result, image_dir, run_dir)
    for q, why in sorted(bad.items()):
        note(f"FAILED {q}: {why}")

    passes = result["passes"]
    warm = [p for p in passes if p["index"] > 0 and not p["traced"]]
    lat = [t for p in warm for t in p["latencies"].values()]
    note(f"{a.workload} seed {a.seed}: pass walls " +
         " ".join(f"{p['wall_s']:.2f}{'t' if p['traced'] else ''}" for p in passes) +
         f", {len(lat)} warm query samples")
    if a.trace == 0:
        values = {
            "setup_s": result["setup_s"],
            "pass_s": statistics.median(p["wall_s"] for p in warm),
            "query_p50_s": statistics.median(lat),
            "peak_rss_mb": result["peak_rss_mb"],
        }
        units = END_TO_END
    else:
        # each warm traced pass against the mean of the untraced passes
        # on either side of it, which cancels the warm-up trend
        walls = [p["wall_s"] for p in passes]
        values = dict(result["layers"])
        values["setup.session_s"] = result["session_s"]
        values["trace.overhead_s"] = statistics.median(
            walls[i] - (walls[i - 1] + walls[i + 1]) / 2
            for i in range(2, len(walls) - 1, 2))
        with open(os.path.join(run_dir, "spans.jsonl")) as fh:
            spans = [json.loads(line) for line in fh]
        summary = {"self_s": self_times(spans), "layers": values,
                   "passes": passes}
        with open(os.path.join(run_dir, "trace_summary.json"), "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
        note(f"spans in {run_dir}/spans.jsonl, layer self times in "
             f"{run_dir}/trace_summary.json")
        units = PER_LAYER
    missing = sorted(set(units) - set(values))
    if missing:
        die("metrics not measured: " + ", ".join(missing), 5)
    print(json.dumps({
        "correct": not bad,
        "attempted": len(result["queries"]),
        "failed": len(bad),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
