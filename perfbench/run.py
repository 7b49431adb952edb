#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark harness
from source (once per source state), generates the workload's inputs from the
seed, runs the harness JVM (setup up to the end of a first untimed job, a
closed loop of timed jobs for S seconds, correctness checks), and prints one
JSON result as the last line of stdout: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A line before it carries the
workload's quality figures and check details. Traced runs also write their spans and per-layer
metrics under .bench_build/trace/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen      # noqa: E402
import layers   # noqa: E402

WORKLOADS = ["cluster_errors", "curate_corpus", "stream_errors", "event_analytics"]
BUILD = ".bench_build"
# the JVM's deadline: set-up, checks and slack, plus twice the timed window
# for each timed loop (a traced run times the loop untraced, then traced)
JVM_BASE_S = 120
HEAP = "2g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
END_TO_END = [("setup_s", "s"), ("job_p50_s", "s"), ("rows_per_s", "rows/s"),
              ("peak_heap_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads: library sources, harness sources
    and both build definitions."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(root):
    """Compiles (when the sources changed) and returns the harness classpath."""
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp_file = os.path.join(root, BUILD, "source.stamp")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt = shutil.which("sbt") or fail("sbt is not on PATH")
    log = os.path.join(root, BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), env=sbt_env(),
                           stdout=subprocess.PIPE, stderr=out, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return exe or fail("java is not on PATH")


def run_jvm(cp, workload, data, work, seconds, trace, out):
    cmd = [java(), f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp"]
    for o in OPENS:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Bench", workload, data, work, str(seconds), str(trace), out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_CPUS", None)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=JVM_BASE_S + (2 if trace else 1) * 2 * seconds)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness JVM failed ({code})")
    with open(out) as f:
        return json.load(f)


def recorded_per_layer(root):
    """The per-layer metrics BENCHMARK.json records; the trace file has all."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def end_to_end(raw):
    jobs = raw["job_s"]
    return {
        "setup_s": raw["setup_s"],
        "job_p50_s": statistics.median(jobs) if jobs else float("nan"),
        "rows_per_s": raw["rows"] / sum(jobs) if jobs else float("nan"),
        "peak_heap_mb": raw["heap_peak_mb"],
    }


def detail(raw, failed, attempted):
    """The workload-specific figures reported next to the metrics."""
    def tail(xs):
        t = layers.tail_percentile(xs)
        return {"percentile": t and t[0], "value": t and t[1], "samples": len(xs)}

    d = {"workload": raw["workload"], "error_rate": failed / attempted,
         "phase_s": raw["phase_s"], "job_s": raw["job_s"], "job_tail_s": tail(raw["job_s"]),
         "quality": raw["quality"], "checks": raw["checks"], "errors": raw["errors"]}
    if raw["workload"] == "stream_errors":
        ms = [x * 1000 for x in raw["job_s"]]
        d["batch_p50_ms"] = statistics.median(ms) if ms else None
        d["batch_tail_ms"] = tail(ms)
    return d


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the library sources are missing")
    cp = classpath(root)

    run_dir = os.path.join(root, BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    gen.generate(a.seed, data, a.workload)
    raw = run_jvm(cp, a.workload, data, work, a.seconds, a.trace,
                  os.path.join(run_dir, "result.json"))
    checks_failed = sum(1 for c in raw["checks"] if not c["ok"])
    jobs_failed = raw["jobs_attempted"] - len(raw["job_s"])
    phase_errors = len(raw["errors"]) - jobs_failed
    attempted = raw["jobs_attempted"] + len(raw["checks"]) + phase_errors
    failed = jobs_failed + checks_failed + phase_errors
    metrics = end_to_end(raw)
    report = detail(raw, failed, attempted)

    if a.trace:
        if raw["trace"] is None:
            fail("traced run returned no trace")
        extras = raw["trace_extras"]
        per_layer, acct = layers.layer_metrics(raw["trace"], extras)
        report["accounting"] = acct
        untraced = statistics.median(raw["untraced_job_s"])
        report["tracing_overhead"] = {"untraced_job_p50_s": untraced,
                                      "traced_job_p50_s": metrics["job_p50_s"],
                                      "ratio": metrics["job_p50_s"] / untraced}
        out_dir = os.path.join(root, BUILD, "trace")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"spans": raw["trace"]["spans"], "queries": raw["trace"]["queries"],
                       "per_layer": per_layer, "accounting": acct, "extras": extras}, f)
        units = dict(layers.per_layer_names())
        out = {k: {"value": per_layer[k], "unit": units[k]} for k in recorded_per_layer(root)}
    else:
        units = dict(END_TO_END)
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}

    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))



if __name__ == "__main__":
    main()
