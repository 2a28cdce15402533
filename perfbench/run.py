"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. It compiles the engine
(src/main/scala) together with the harness (perfbench/scala) against the
Spark jars that build.sbt names (its unmanagedBase; $SPARK_HOME/jars when
SPARK_HOME is set), generates the workload's
inputs from the seed, runs one JVM at local[<cores>] with one closed-loop
client, checks the outputs, and prints one JSON object as the last line of
standard output. With --trace 1 the printed metrics are the per-layer ones;
the spans go to .perfbench_out/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = ".perfbench_build"
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"
RUN_TIMEOUT_S = 170  # for everything after the build

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's
    unmanagedBase (the jars the repository itself builds against)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            fail("no Spark jars: set SPARK_HOME, or run from a checkout whose build.sbt "
                 "sets unmanagedBase")
        jars = m.group(1)
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}; set SPARK_HOME")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    return engine + harness


def build(root):
    """Compiles engine + harness once per source hash; returns the classes dir."""
    jars = spark_jars()
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    if not compiler:
        fail(f"no scala-compiler jar in {jars}")
    srcs = sources(root)
    h = hashlib.sha256(compiler[-1].encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR, h.hexdigest()[:20])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = ":".join(glob.glob(os.path.join(jars, "scala-*.jar")))
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes,
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail("compilation failed")
    open(os.path.join(out, "ok"), "w").close()
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def run_jvm(root, classes, args, work, inputs, out_json, trace_file, timeout):
    jars = spark_jars()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap with a fixed young generation: the resident set then
    # tracks what the program retains, not how the collector chose to grow
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseG1GC", "-Xss8m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--inputs", inputs, "--spec", os.path.join(HERE, "spec.json"),
              "--out", out_json, "--trace_file", trace_file])
    logfile = os.path.join(work, "jvm.log")
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"JVM exceeded {timeout:.0f}s; log: {logfile}", 3)
        finally:  # never leave the JVM behind, whatever ends this process
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(logfile) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"JVM exited with {rc}; log: {logfile}", 3)


def on_sigterm(signum, frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main(argv=None):
    signal.signal(signal.SIGTERM, on_sigterm)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    root = os.getcwd()
    bench = stats.load_benchmark(root)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {args.workload}")
    classes = build(root)
    t_built = time.time()

    work = os.path.join(root, WORK_DIR, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen.generate(args.workload, args.seed, inputs)
    out_json = os.path.join(work, "record.json")
    trace_file = os.path.join(root, OUT_DIR, "traces",
                              f"{args.workload}-s{args.seed}.json")
    t_gen = time.time()
    run_jvm(root, classes, args, work, inputs, out_json, trace_file,
            RUN_TIMEOUT_S - (time.time() - t_built))
    t_jvm = time.time()
    with open(out_json) as f:
        record = json.load(f)

    check_dir = os.path.join(work, "check")
    verdicts, digests = {}, {}
    if args.workload == "ingest_sync":
        by_op = check.check_ingest(check_dir, inputs)
        for i, op in enumerate(record["ops"]):
            if op["ok"] is None:
                op["ok"] = i in by_op and by_op[i] is None
        verdicts = {f"op {i}": why for i, why in by_op.items()}
    else:
        verdicts.update(check.check_sql(os.path.join(check_dir, "sql"),
                                        os.path.join(inputs, "star")))
        verdicts.update(check.check_stream(os.path.join(check_dir, "stream"),
                                           os.path.join(inputs, "events")))
        for part in ("sql", "stream"):
            with open(os.path.join(check_dir, part, "digests.json")) as f:
                digests.update(json.load(f))
        check.apply(record, verdicts, digests)
    for name, why in sorted(verdicts.items()):
        if why is not None:
            log(f"check failed: {name}: {why}")

    e2e = stats.end_to_end(record)
    attempted, failed = stats.counts(record["ops"])
    n_timed = sum(1 for o in record["ops"] if o["window"] == 0)
    tail = stats.tail_percentile(n_timed)
    log(f"{n_timed} timed ops: the highest percentile with 10 samples beyond it is "
        f"{'none' if tail is None else f'p{tail:g}'}")
    correct = failed == 0
    if args.trace:
        declared = {m["name"] for m in bench["per_layer"]}
        layers = record["layers"]
        line = stats.result_line(bench, "per_layer",
                                 {k: v for k, v in layers.items() if k in declared},
                                 correct, attempted, failed)
        extra = {k: v for k, v in layers.items() if k not in declared}
        with open(trace_file) as f:
            tr = json.load(f)
        tr.update({"workload": args.workload, "seed": args.seed, "end_to_end_first_window": e2e,
                   "other_layer_values": extra, "per_layer": line["metrics"]})
        with open(trace_file, "w") as f:
            json.dump(tr, f)
        log(f"spans and self times: {os.path.relpath(trace_file, root)}")
    else:
        line = stats.result_line(bench, "end_to_end", e2e, correct, attempted, failed)
    by_kind = {}
    for o in record["ops"]:
        by_kind.setdefault(o["kind"], []).append(o["wall_s"])
    log("median op seconds by kind: " + ", ".join(
        f"{k}={statistics.median(v):.3f}x{len(v)}" for k, v in sorted(by_kind.items())))
    log(f"set-up repetitions: {', '.join(f'{s:.2f}' for s in record['setup_s'])} s; "
        f"warm-up {record['warmup_s']:.2f} s")
    log(f"{attempted} ops, {failed} failed; info {json.dumps(record['info'])}")
    log(f"host during the timed window: {json.dumps(record['host'])}")
    log(f"phases: build {t_built - t_start:.1f}s, generate {t_gen - t_built:.1f}s, "
        f"jvm {t_jvm - t_gen:.1f}s "
        f"{json.dumps(record['phases_s'])}, python check {time.time() - t_jvm:.1f}s")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
