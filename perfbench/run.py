#!/usr/bin/env python3
"""perfbench: the repository's benchmark. See perfbench/README.md.

Builds the program from this checkout's sources (once per source state),
then runs one workload in fresh single-JVM local[nproc] sessions with one
client in a closed loop, checks every output, prints one report line per
metric, and prints the result as one JSON object on the last line.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import cmapss_gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import summarise  # noqa: E402
import workloads  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
HARNESS = os.path.join(HERE, "harness")
OUT = os.path.join(HERE, "out")
# JVMs started together per run whose set-up is timed; the last one then
# runs the passes.
SETUP_SAMPLES = 3
# Seconds the JVMs of one run may take once the program is built, so the
# run ends within 180 s.
JVM_BUDGET_S = 150
# What spark-submit adds for Spark 4 on JDK 17; the root build.sbt
# passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half the machine's memory, between 2g and 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BenchError("java not found")
    return exe


def source_files():
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compile the harness with the program's sources; return the classpath.

    The classpath is cached beside the build output, keyed by a hash of
    every source file, so only the first run after a change compiles.
    """
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("the program's sources (src/main/scala) are not in "
                         "this checkout")
    h = hashlib.sha256(ROOT.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(HARNESS, "target", "perfbench-classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=800)
        log.write(r.stdout)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise BenchError(f"build failed (exit {r.returncode}), see {log_path}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def declared():
    """Units of the end-to-end and per-layer metrics BENCHMARK.json gates."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    return ({m["name"]: m["unit"] for m in doc["end_to_end"]},
            {m["name"]: m["unit"] for m in doc["per_layer"]})


def parse_event(line):
    """The harness's protocol: 'PB ' followed by one JSON object."""
    if not line.startswith("PB "):
        return None
    return json.loads(line[3:])


class Jvm:
    """One harness JVM, its protocol events and its time to 'ready'.

    The ready time runs from just before the process is spawned until its
    'ready' line arrives: JVM start, session start and locating inputs. A
    set-up-only JVM is killed then; the other waits for `go`.
    """

    def __init__(self, cmd, cwd, env, log_path, setup_only):
        self.log = open(log_path, "w")
        self.t0 = time.perf_counter()
        self.setup_only = setup_only
        self.p = subprocess.Popen(
            cmd + (["--setup-only", "1"] if setup_only else []),
            cwd=cwd, env=env, stderr=self.log, stdout=subprocess.PIPE,
            stdin=subprocess.DEVNULL if setup_only else subprocess.PIPE,
            text=True)
        self.ready = None
        self.ready_seen = threading.Event()
        self.events = []
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.p.stdout:
            e = parse_event(line)
            if e is None:
                continue
            if e["event"] == "ready" and self.ready is None:
                self.ready = time.perf_counter() - self.t0
                self.ready_seen.set()
                if self.setup_only:
                    self.p.kill()
            self.events.append(e)
        self.ready_seen.set()

    def go(self):
        self.p.stdin.write("go\n")
        self.p.stdin.close()

    def finish(self):
        rc = self.p.wait()
        self.reader.join()
        self.log.close()
        return rc

    def kill(self):
        if self.p.poll() is None:
            self.p.kill()


def launch(cmd, cwd, env, deadline):
    """Start SETUP_SAMPLES JVMs at once; all but the last are killed once
    set up.

    The last runs the passes, after the others have ended, so the timed
    passes have the machine to themselves. Returns the set-up samples and
    the last JVM's events.
    """
    jvms = [Jvm(cmd, cwd, env, os.path.join(cwd, f"jvm-setup{i}.log"), True)
            for i in range(SETUP_SAMPLES - 1)]
    main = Jvm(cmd, cwd, env, os.path.join(cwd, "jvm.log"), False)
    jvms.append(main)
    timer = threading.Timer(max(1.0, deadline - time.monotonic()),
                            lambda: [j.kill() for j in jvms])
    timer.start()
    try:
        for j in jvms[:-1]:
            j.finish()
            if j.ready is None:
                raise BenchError(f"set-up JVM failed, see {j.log.name}")
        main.ready_seen.wait()
        if main.ready is None:
            main.finish()
            raise BenchError(f"harness failed to start, see {main.log.name}")
        main.go()
        if main.finish() != 0:
            raise BenchError(f"harness failed, see {main.log.name}")
    finally:
        timer.cancel()
        for j in jvms:
            j.kill()
            j.p.wait()
    return [j.ready for j in jvms], main.events


def end_to_end(events, setup, checks, gen):
    passes = [e for e in events if e["event"] == "pass"]
    ops = [e for e in events if e["event"] == "op"]
    warm_ops = [e["s"] for e in ops if e["pass"] > 0]
    m = {
        "setup_s": stats.median(setup),
        "cold_pass_s": passes[0]["s"],
        "warm_pass_s": stats.median([e["s"] for e in passes[1:]]),
    }
    extra = {"op_p50_s": stats.median(warm_ops)}
    if 90 in stats.reportable(len(warm_ops)):
        extra["op_p90_s"] = stats.percentile(warm_ops, 90)
    writes = [e for e in events if e["event"] == "etl_write" and e["pass"] > 0]
    if gen is not None:
        etl = [e["s"] for e in ops if e["op"] == "etl" and e["pass"] > 0]
        extra["rows_per_s"] = sum(gen["rows"].values()) / stats.median(etl)
        extra["write_amp"] = stats.median(
            [e["bytes"] / e["input_bytes"] for e in writes])
    storage = next(e for e in events if e["event"] == "storage")
    extra["cache_mb"] = storage["bytes"] / 1e6
    attempted = len(ops) + len(checks)
    failed = (sum(1 for e in ops if e.get("error")) +
              sum(1 for v in checks.values() if v))
    extra["fail_frac"] = failed / attempted
    return m, extra, attempted, failed


def result_line(correct, attempted, failed, metrics, units):
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}})


def run(args):
    w = workloads.WORKLOADS[args.workload]
    classpath = build()
    deadline = time.monotonic() + JVM_BUDGET_S
    out = os.path.join(OUT, args.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    gen = None
    cmd = [java(), f"-Xmx{heap()}", f"-Djava.io.tmpdir={out}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            "--workload", args.workload, "--data", DATA, "--out", out,
            "--cores", str(cores()), "--seconds", str(args.seconds),
            "--seed", str(args.seed), "--trace", str(args.trace),
            "--ops", ",".join(w["ops"]), "--warm-passes", str(w["warm_passes"])]
    if w["kind"] == "cmapss":
        gen = cmapss_gen.generate(os.path.join(out, "cmapss"), args.seed,
                                  w["units_per_dataset"], w["datasets"])
        cmd += ["--cmapss", os.path.join(out, "cmapss")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))

    setup, events = launch(cmd, out, env, deadline)
    with open(os.path.join(out, "events.json"), "w") as f:
        json.dump({"setup_s": setup, "events": events}, f)
    if not any(e["event"] == "done" for e in events):
        raise BenchError("harness ended without finishing the run")

    if gen is None:
        with open(os.path.join(out, "check.json")) as f:
            manifest = json.load(f)
        checks = oracle.check_queries(DATA, os.path.join(out, "results"),
                                      manifest, w["ops"])
    else:
        etl = next(e for e in events if e["event"] == "cmapss_result")
        checks = oracle.check_cmapss(gen, etl, etl["warehouse"])
    for name, why in sorted(checks.items()):
        print(f"check {name} {'ok' if why is None else 'FAIL ' + why}")
    for e in events:
        if e["event"] == "op" and e.get("error"):
            print(f"error pass={e['pass']} op={e['op']} {e['error']}")

    m, extra, attempted, failed = end_to_end(events, setup, checks, gen)
    e2e_units, layer_units = declared()
    units = {**e2e_units, **workloads.REPORTED, **layer_units}
    passes = [e for e in events if e["event"] == "pass"]
    print(f"run workload={args.workload} seed={args.seed} cores={cores()} "
          f"heap={heap()} passes={len(passes)} "
          f"op_samples={sum(1 for e in events if e['event'] == 'op' and e['pass'] > 0)} "
          f"setup_samples={' '.join(f'{s:.3f}' for s in setup)}")
    report, result = {**m, **extra}, m
    if args.trace:
        with open(os.path.join(out, "trace.json")) as f:
            layer, table = summarise.per_layer(json.load(f), events)
        for row in table:
            print(summarise.format_op(row))
        report.update(layer)
        result = layer
    for k, v in report.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    correct = failed == 0
    print(result_line(correct, attempted, failed, result, units))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        run(args)
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
