#!/usr/bin/env python3
"""Benchmark of the financial pipeline engine: one command, two workloads.

    python3 perfbench/run.py --workload {ingest_and_serve,query_suite}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run compiles the engine and the
benchmark into .bench_build/ (see build.py); each run then starts one JVM
(Spark at local[nproc]), sets the workload up, measures it for S seconds,
checks its outputs and prints, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics, including trace_overhead.<metric>: the traced run's
end-to-end value minus the median of this checkout's untraced runs of the
same workload (an untraced run is made first when there is none yet).

Maintenance: --make-digests DIR recomputes the committed result digests of
suite.json from a Verify dump DIR (see README.md).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import build  # noqa: E402

WORKLOADS = ("ingest_and_serve", "query_suite")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]]


def build_dir(classpath):
    return os.path.dirname(classpath.split(os.pathsep)[0])


def run_jvm(classpath, main, args, work):
    """Run one benchmark JVM; returns its last stdout line parsed as JSON.

    The first run of a build also dumps a class-data-sharing archive of the
    classes it loaded; later runs map it instead of loading Spark's classes
    from the jars again (about 4 s less start-up per run)."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    archive = os.path.join(build_dir(classpath), "classes.jsa")
    dumping = archive + ".%d" % os.getpid()
    cds = ["-XX:SharedArchiveFile=" + archive] if os.path.isfile(archive) else \
        ["-XX:ArchiveClassesAtExit=" + dumping]
    cmd = [build.java_bin(), "-Xmx3g", "-Xss8m"] + cds + \
        [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + \
        ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
         "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
         "-cp", classpath, main] + args
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch inside the checkout
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=work, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("benchmark JVM timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        if os.path.exists(dumping):
            os.remove(dumping)
        raise RuntimeError("benchmark JVM failed with exit code %s" % proc.returncode)
    if os.path.isfile(dumping):
        os.replace(dumping, archive)
    return json.loads(lines[-1])


def untraced_store(classpath, workload):
    """Untraced results of this build, kept beside its classes."""
    return os.path.join(build_dir(classpath), "untraced-%s.jsonl" % workload)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-digests", metavar="VERIFY_DIR")
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2

    if a.make_digests:
        work = os.path.join(build.BUILD, "work", "digests-%d" % os.getpid())
        r = run_jvm(classpath, "perfbench.MakeDigests",
                    [os.path.abspath(a.make_digests), HERE], work)
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(r))
        return 0
    if not a.workload:
        ap.error("--workload is required")

    e2e_names, layer_names = contract()
    work = os.path.join(build.BUILD, "work", "%s-%d" % (a.workload, os.getpid()))

    def one(trace):
        run_work = work + ("-traced" if trace else "")
        try:
            return run_jvm(classpath, "perfbench.Main",
                           [a.workload, str(a.seed), str(a.seconds), str(trace), run_work, HERE,
                            os.path.join(build.BUILD, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))],
                           run_work)
        finally:
            shutil.rmtree(run_work, ignore_errors=True)

    try:
        if a.trace == 0:
            r = one(0)
            metrics = r["metrics"]
            missing = [n for n in e2e_names if n not in metrics]
            if missing:
                raise RuntimeError("missing end-to-end metrics: %s" % missing)
            store = untraced_store(classpath, a.workload)
            with open(store, "a") as f:
                f.write(json.dumps({n: metrics[n]["value"] for n in e2e_names}) + "\n")
            r["metrics"] = {n: metrics[n] for n in e2e_names}
        else:
            store = untraced_store(classpath, a.workload)
            if not os.path.isfile(store):
                base = one(0)
                with open(store, "a") as f:
                    f.write(json.dumps({n: base["metrics"][n]["value"] for n in e2e_names}) + "\n")
            with open(store) as f:
                history = [json.loads(l) for l in f if l.strip()]
            r = one(1)
            metrics = r["metrics"]
            for n in e2e_names:
                metrics["trace_overhead." + n] = {
                    "value": metrics[n]["value"] - statistics.median(h[n] for h in history),
                    "unit": metrics[n]["unit"]}
            missing = [n for n in layer_names if n not in metrics]
            if missing:
                raise RuntimeError("missing per-layer metrics: %s" % missing)
            r["metrics"] = {n: metrics[n] for n in layer_names}
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
