"""Clinical-pipeline benchmark for graft: one run of one workload.

    python3 perfbench/run.py --workload pipeline_wide --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the library
(src/main/scala) together with the benchmark's Scala sources into
.bench_build/classes with the Scala compiler that ships in Spark's jars;
later runs reuse the classes while the sources are unchanged. Each run
then generates the workload's seeded corpus and starts benchmark JVMs,
each with a local Spark session: a pipeline workload times one cold
index build per JVM, as many JVMs as fit in --seconds (at least one);
refresh_study and traced runs work in one JVM. Every output is checked.
The run prints each metric by name with its unit; the last line of
standard output is the result as one JSON object.

    --trace 0  end-to-end metrics (BENCHMARK.json "end_to_end")
    --trace 1  per-layer metrics (BENCHMARK.json "per_layer")

Every file the run reads or writes sits inside the checkout. A detailed
record of the run (latencies, digest, spans) is kept in
.bench_build/results/ for compare.py.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import corpus  # noqa: E402

BUILD = ".bench_build"
WORKLOADS = {  # workload -> corpus shape
    "pipeline_wide": "wide",
    "pipeline_deep_ontology": "deep",
    "refresh_study": "wide",
}
# refresh_study is run by hand: one run takes 65-80 s of wall time on
# 4 cores, most of it the cold catalog and store writes, too long to
# repeat as often as the listed workloads. Its end-to-end metrics; the
# latency tail needs more samples than one run takes, so compare.py
# pools it over runs.
REFRESH_END_TO_END = [
    {"name": "refresh_p50_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "rows_per_s", "unit": "rows/s", "better": "higher", "bound": 0.25},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "output_bytes_ratio", "unit": "ratio", "better": "lower",
     "bound": 0.05},
]
MAX_CORES = 4
HEAP = "2g"
RUN_LIMIT_S = 170     # a run's JVM must end within this
BUILD_LIMIT_S = 880   # ... or this, on a run that compiled first

# Spark on JDK 17 outside spark-submit needs these (the list in the
# root build.sbt, from Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory the root
    build.sbt takes its unmanaged jars from."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                jar_dir = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                                    f.read()).group(1)
        except (OSError, AttributeError):
            fail("SPARK_HOME is not set and build.sbt names no jar directory")
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        fail("no Spark distribution with a Scala compiler in %s" % jar_dir)
    return os.path.join(jar_dir, "*"), jars


def sources():
    here = os.path.dirname(os.path.abspath(__file__))
    lib = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not lib:
        fail("no src/main/scala here: run from the root of a graft checkout")
    own = sorted(glob.glob(os.path.join(os.path.relpath(here), "src", "**",
                                        "*.scala"), recursive=True))
    return lib + own


def build():
    """Compile library + benchmark sources unless the classes for
    exactly these sources and jars exist. Returns (classes dir, built)."""
    cp, jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs + jars:
        h.update(path.encode() + b"\0")
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, False
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
         "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
         "-cp", cp, "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print("built %d sources in %.1f s" % (len(srcs), time.time() - t0),
          file=sys.stderr)
    return classes, True


def run_jvm(classes, main_class, args, log, deadline):
    """Run a benchmark main class; kill its whole process group if it
    is still running at `deadline` (None: no deadline)."""
    cp, _ = spark_jars()
    tmpdir = os.path.abspath(os.path.join(BUILD, "run", "tmp"))
    os.makedirs(tmpdir, exist_ok=True)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmpdir, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + cp, main_class] + args)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=None if deadline is None
                          else max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail_latency(lat):
    """Highest percentile with at least 10 samples beyond it, or None
    when there are too few samples for one."""
    n = len(lat)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(lat)[n - 11]


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def end_to_end_spec(spec, workload):
    """The end-to-end metrics `workload` reports, in BENCHMARK.json's
    form: the file's own list, or REFRESH_END_TO_END for refresh_study."""
    if workload in {w["name"] for w in spec["workloads"]}:
        return spec["end_to_end"]
    return REFRESH_END_TO_END


def end_to_end(results):
    """The end-to-end metrics from the JVMs of one untraced run."""
    lat = [x for r in results for x in r["latencies_s"]]
    last = results[-1]
    p50 = median(lat)
    latency = ({"pipeline_s": p50} if last["op"] == "pipeline"
               else {"refresh_p50_ms": p50 * 1e3})
    return dict(latency, **{
        "rows_per_s": last["input_rows"] / p50,
        "setup_s": median([r["setup_s"] for r in results]),
        "output_bytes_ratio": last["output_bytes"] / last["input_bytes"],
    })


def report_breakdown(spans, op):
    """Each child span's share of the workload operation's wall time."""
    roots = [s for s in spans if s["name"] == "op." + op]
    for root in roots:
        kids = [s for s in spans if s["parent"] == root["id"]]
        print("trace: op.%s %.3f s (self %.3f s)"
              % (op, root["seconds"], root["self_seconds"]))
        for k in kids:
            print("trace:   %-28s %8.3f s  %5.1f%%"
                  % (k["name"], k["seconds"], 100 * k["seconds"] / root["seconds"]))


def main(argv):
    p = argparse.ArgumentParser(description="graft clinical-pipeline benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = p.parse_args(argv)
    start = time.time()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = (spec["per_layer"] if a.trace
              else end_to_end_spec(spec, a.workload))
    units = {m["name"]: m["unit"] for m in wanted}

    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    classes, built = build()

    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    corpus_dir = os.path.abspath(os.path.join(run_dir, "corpus"))
    t0 = time.time()
    manifest = corpus.generate(WORKLOADS[a.workload], a.seed, corpus_dir)
    gen_s = time.time() - t0

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    def jvm(k):
        """One benchmark JVM; its parsed result."""
        result_file = os.path.join(run_dir, "result-%d.json" % k)
        log = os.path.join(run_dir, "jvm-%d.log" % k)
        code = run_jvm(classes, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--corpus", corpus_dir, "--manifest", corpus_dir + ".manifest.json",
            "--work", os.path.abspath(os.path.join(run_dir, "work-%d" % k)),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--result", os.path.abspath(result_file)],
            log, deadline)
        if code != 0 or not os.path.exists(result_file):
            with open(log) as f:
                print(f.read()[-4000:], file=sys.stderr)
            fail("benchmark JVM %s" % ("timed out" if code is None
                                       else "exited with %s" % code))
        with open(result_file) as f:
            return json.load(f)

    # A pipeline sample is one cold build in a fresh JVM: start JVMs
    # until the requested seconds are spent, and none that could not
    # end before the deadline. Refresh and traced runs measure inside
    # one JVM.
    t1 = time.time()
    results = [jvm(0)]
    while (not a.trace and a.workload != "refresh_study"
           and time.time() - t1 < a.seconds
           and time.time() + 2 * (time.time() - t1) / len(results) < deadline):
        results.append(jvm(len(results)))

    failed = sum(r["failed"] for r in results)
    attempted = sum(r["attempted"] for r in results)
    errors = [e for r in results for e in r["errors"]]
    digests = sorted({r["digest"] for r in results})
    if len(digests) > 1:
        failed += 1
        errors.append("builds of one corpus gave different indexes: %s" % digests)

    if a.trace:
        metrics = dict(results[0]["metrics"], **{"bench.corpus_gen_s": gen_s})
    else:
        metrics = end_to_end(results)
    missing = sorted(set(units) - set(metrics))
    if missing:
        fail("metrics not measured: %s" % ", ".join(missing))
    out = {}
    for name in units:
        v = float(metrics[name])
        if not math.isfinite(v):
            failed = max(failed, 1)
            v = 0.0
        out[name] = {"value": v, "unit": units[name]}

    lat_ms = [x * 1e3 for r in results for x in r["latencies_s"]]
    op = results[0]["op"]
    print("workload %s seed %d: %d operations in %d JVM(s), %d failed; corpus "
          "%d rows, %d TSV bytes, generated in %.2f s"
          % (a.workload, a.seed, attempted, len(results), failed,
             manifest["tsv_rows"], manifest["tsv_bytes"], gen_s))
    if op == "refresh" or a.trace:
        print("refreshed study: %s" % results[0]["study"])
    for e in errors:
        print("output gate: " + e)
    print("output gate: %s, %s digest %s" % (
        "pass" if failed == 0 else "FAIL", op, digests[0]))
    if lat_ms:
        tail = tail_latency(lat_ms)
        print("latency samples: %d (ms: %s); tail: %s" % (
            len(lat_ms), " ".join("%.0f" % x for x in lat_ms),
            "p%.1f = %.1f ms" % tail if tail else
            "needs 11 samples, compare.py pools runs"))
    if a.trace:
        report_breakdown(results[0]["spans"], op)
    for name, m in out.items():
        print("%-44s %14.6g %s" % (name, m["value"], m["unit"]))

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "time": start, "metrics": out,
              "latencies_ms": lat_ms, "digest": digests[0],
              "attempted": attempted, "failed": failed, "errors": errors,
              "spans": results[0].get("spans", [])}
    with open(os.path.join(BUILD, "results", "%s-seed%d-trace%d-%d.json" % (
            a.workload, a.seed, a.trace, int(start * 1000))), "w") as f:
        json.dump(record, f)

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main(sys.argv[1:])
