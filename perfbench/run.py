#!/usr/bin/env python3
"""Benchmark runner for graft.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. Builds the library together with the
benchmark (perfbench/build.sbt, offline) once per source state, then
runs the named workload in its own JVM at local[<cores>] and prints, as
the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A run writes only under
.bench_build/ in the checkout; the build writes perfbench/target and
perfbench/project, besides sbt's own caches, and a class-data archive
under .bench_build/.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "graftbench")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# the metric set lives in BENCHMARK.json alone
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
WORKLOADS = tuple(w["name"] for w in BENCH["workloads"])
# end-to-end metric -> unit
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
# per-layer metric -> unit; a traced run reports every one of them
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
# per-layer metrics of the layers a workload's traced run does not
# enter, by name prefix; they read 0 there
NOT_ENTERED = {
    "backfill": ("freshness_", "ingest_", "pages.model_update.", "snapshot.", "correct.", "cleaning_"),
    "continuous": ("rollup", "block_bits", "core.", "floor.", "pages.repair.", "scaling."),
}


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def iqr_share(xs):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles of statistics.quantiles(xs, n=4)."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def metrics_of(workload, raw, trace):
    """The metrics object for one JVM result."""
    if trace:
        layers = dict(raw["layers"])
        layers["failed_op_share"] = raw["failed"] / max(raw["attempted"], 1)
        unknown = sorted(set(layers) - set(PER_LAYER))
        if unknown:
            fail(f"per-layer metrics not in BENCHMARK.json: {unknown}")
        for name in set(PER_LAYER) - set(layers):
            if name.startswith(NOT_ENTERED[workload]):
                layers[name] = 0.0
        missing = sorted(set(PER_LAYER) - set(layers))
        if missing:
            fail(f"per-layer metrics not reported: {missing}")
        return {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    values = {
        "setup_s": raw["session_s"] + raw["input_s"] + raw["base_s"],
        "op_p50_s": median(raw["op_s"]),
        "items_per_s": median(raw["item_rates"]),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    if set(values) != set(END_TO_END):
        fail(f"end-to-end metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(END_TO_END))}")
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(BENCH_DIR, "build.sbt")
    yield os.path.join(BENCH_DIR, "project", "build.properties")


def classpath():
    """Compile once per source state; returns the runtime classpath and
    the path of its class-data archive."""
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD_DIR, f"classpath-{h.hexdigest()[:16]}.txt")
    archive = stamp[:-len(".txt")] + ".jsa"
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip(), archive
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("graftbench: building", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "printClasspath"],
        cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S,
    )
    entries = [l[3:].strip() for l in p.stdout.splitlines() if l.startswith("CP ")]
    if p.returncode != 0 or not entries:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = os.pathsep.join(entries)
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in os.listdir(BUILD_DIR):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD_DIR, old))
    # Class-data sharing: the JVM self-test dumps the classes it loaded
    # into an archive that every run then maps, which takes class
    # loading out of session start and the first jobs. Without the
    # archive, runs still work, only slower to set up.
    print("graftbench: writing the class-data archive", file=sys.stderr)
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"archive-{os.getpid()}")
    try:
        run_jvm(cp, run_dir, ["self-test", os.path.join(run_dir, "work"), str(cores())],
                [f"-XX:ArchiveClassesAtExit={archive}"])
    except SystemExit:
        print("graftbench: no class-data archive; runs go without it", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp, archive


def spark_home():
    """SPARK_HOME, or the first Spark distribution on PATH (a bin/ with
    spark-submit beside a jars/)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, run_dir, args, jvm_flags=()):
    """Runs graftbench.Main with `args`; returns its stdout lines."""
    for d in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # A fixed, pre-touched heap keeps the resident-set high-water mark
    # from following GC timing (how far the old generation got before
    # a collection varied it by 10-17% between runs); peak_rss_mb is
    # then the heap plus what the JVM holds outside it.
    cmd = ["java", *jvm_flags, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
        "-cp", cp, "graftbench.Main",
    ] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM did not finish within {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"JVM exited with code {proc.returncode}")
    return out.splitlines()


def self_test(cp, share):
    assert median([3, 1, 2]) == 2 and median([4, 1, 3, 2]) == 2.5
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert abs(iqr_share(xs) - (q3 - q1) / 5.5) < 1e-12
    raw = {"session_s": 1.0, "input_s": 2.0, "base_s": 0.5, "op_s": [2.0, 4.0, 3.0],
           "item_rates": [10.0, 30.0, 20.0, 40.0], "peak_rss_mb": 100.0, "attempted": 4, "failed": 1,
           "layers": {"pages.repair.s": 1.5, "spark.jobs": 3.0}}
    m = metrics_of("backfill", raw, False)
    assert m["setup_s"]["value"] == 3.5 and m["op_p50_s"]["value"] == 3.0 and m["items_per_s"]["value"] == 25.0
    raw["layers"] = {k: 1.0 for k in PER_LAYER if not k.startswith(NOT_ENTERED["backfill"])}
    del raw["layers"]["failed_op_share"]
    t = metrics_of("backfill", raw, True)
    assert t["failed_op_share"]["value"] == 0.25 and t["pages.repair.s"]["value"] == 1.0
    assert t["snapshot.update.s"]["value"] == 0.0 and set(t) == set(PER_LAYER)
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"self-test-{os.getpid()}")
    try:
        lines = run_jvm(cp, run_dir, ["self-test", os.path.join(run_dir, "work"), str(cores())], share)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if "GRAFTBENCH_SELF_TEST ok" not in lines:
        fail("JVM self-test did not pass")
    print("self-test ok: statistics, metric composition, corrupted 1m tier row rejected")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        fail("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no library sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    home = spark_home()
    if not home or not os.path.isdir(os.path.join(home, "jars")) or not shutil.which("sbt") or not shutil.which("java"):
        fail("needs sbt, java and a Spark distribution (SPARK_HOME)")

    cp, archive = classpath()
    share = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    if a.self_test:
        self_test(cp, share)
        return

    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.time()
    try:
        lines = run_jvm(cp, run_dir, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                      os.path.join(run_dir, "work"), str(cores())], share)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    found = [l for l in lines if l.startswith("GRAFTBENCH_RESULT ")]
    if not found:
        fail("JVM printed no result")
    raw = json.loads(found[-1][len("GRAFTBENCH_RESULT "):])
    if not raw["op_s"]:
        fail("no operation succeeded")
    metrics = metrics_of(a.workload, raw, a.trace == 1)
    checks = raw["checks"]
    correct = raw["failed"] == 0 and bool(checks) and all(checks.values())
    print(f"{a.workload} raw: session {raw['session_s']:.2f} s, inputs {raw['input_s']:.2f} s, "
          f"base {raw['base_s']:.2f} s, ops "
          + ", ".join(f"{x:.2f}" for x in raw["op_s"]) + " s")
    for name, m in metrics.items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} checks: " + ", ".join(f"{k}={'ok' if v else 'FAILED'}" for k, v in checks.items()))
    print(f"{a.workload} ops: {raw['attempted']} attempted, {raw['failed']} failed; wall {time.time() - t0:.1f} s")
    print(json.dumps({"correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
