#!/usr/bin/env python3
"""Layered benchmark for graft.

Builds the library together with the benchmark driver (sbt, once per
source change), runs one workload in a fresh JVM for a fixed time, checks
its results, and prints a report followed by one JSON line:

    python3 perfbench/run.py --workload scan_mix --seed 1 --seconds 10 --trace 0

--trace 0 reports the end-to-end metrics named in BENCHMARK.json;
--trace 1 runs the same workload traced and reports the per-layer metrics,
writes the span file, and reports the tracing overhead against the latest
untraced run of the same workload. Every run is appended to
perfbench/out/runs.jsonl, stamped with load average, CPU and GC seconds.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(HERE, "target")
CLASSES = os.path.join(BUILD, "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "perfbench.stamp")
LIB_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("scan_mix", "dml_churn", "cdc_mv", "plan_scale")
# set-up (about 25 s) plus the last round, which may start just before
# --seconds run out, plus verification and shutdown
RUN_MARGIN_S = 150
BUILD_TIMEOUT_S = 700  # a first run, build included, must end within 900 s
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    trees = [LIB_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in trees:
        for d, dirs, names in os.walk(tree):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs a command in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the library")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(OUT, exist_ok=True)
    t0 = time.time()
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.relpath(os.path.join(OUT, 'build.log'), ROOT)}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def steal_seconds():
    """CPU time the hypervisor gave to other guests (/proc/stat steal), all CPUs."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def java_cmd(args, work, out_file):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation with a jars/ directory")
    cp = os.pathsep.join([CLASSES, os.path.join(LIB_SRC, "resources"),
                          os.path.join(spark_home, "jars", "*")])
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.callstack.depth=200"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--out", out_file]
    return cmd


def last_untraced(workload):
    path = os.path.join(OUT, "runs.jsonl")
    best = None
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                try:
                    r = json.loads(line)
                except ValueError:
                    continue
                if r.get("workload") == workload and r.get("trace") == 0 and r.get("correct"):
                    best = r
    return best


def fmt_extra(m):
    parts = []
    if "n" in m:
        parts.append(f"n={int(m['n'])}")
    if "percentile" in m:
        parts.append(f"p{m['percentile']:g}")
    for k, v in m.items():
        if k not in ("value", "unit", "n", "percentile"):
            parts.append(f"{k}={v:.6g}")
    return ("  (" + ", ".join(parts) + ")") if parts else ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found at the repository root")
    if not os.path.isdir(os.path.join(LIB_SRC, "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found; run from a full checkout")
    with open(bench_path) as f:
        bench = json.load(f)
    build()

    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    results = os.path.join(OUT, "results")
    logs = os.path.join(OUT, "logs")
    work = os.path.join(OUT, "work", tag)
    for d in (results, logs, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    out_file = os.path.join(results, tag + ".json")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    load_before = os.getloadavg()[0]
    steal0 = steal_seconds()
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    t0 = time.time()
    with open(os.path.join(logs, tag + ".log"), "w") as log:
        rc = run_group(java_cmd(args, work, out_file), args.seconds + RUN_MARGIN_S,
                       cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    wall = time.time() - t0
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    load_after = os.getloadavg()[0]
    steal = steal_seconds() - steal0
    shutil.rmtree(work, ignore_errors=True)

    res = None
    if os.path.exists(out_file):
        with open(out_file) as f:
            res = json.load(f)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "time": stamp, "exit": rc, "wall_s": wall,
              "load1_before": load_before, "load1_after": load_after, "steal_s": steal,
              "process_cpu_s": (ru1.ru_utime + ru1.ru_stime) - (ru0.ru_utime + ru0.ru_stime),
              "correct": bool(res and res.get("correct") and rc == 0)}
    if res:
        record.update({k: res[k] for k in ("attempted", "failed", "stamps", "e2e", "per_layer")})
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if res is None:
        fail(f"run produced no result (exit {rc}); see {os.path.relpath(os.path.join(logs, tag + '.log'), ROOT)}", 1)

    # ---- report ----
    st = res["stamps"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} rounds={res['rounds']} "
          f"measured={res['measured_s']:.2f}s cores={st['cores']}")
    print(f"# load1 before={load_before:.2f} after={load_after:.2f} "
          f"(in-JVM {st['load1_before']:.2f} -> {st['load1_after']:.2f}); "
          f"process cpu={record['process_cpu_s']:.2f}s, measured cpu={st['cpu_s']:.2f}s, "
          f"gc={st['gc_s']:.3f}s, cpu stolen by other guests={steal:.2f}s")
    if st.get("setup_phases"):
        print("# setup phases: " + ", ".join(f"{k}={v:.2f}s" for k, v in st["setup_phases"].items()))
    for name, m in res["e2e"].items():
        print(f"{name:24s} {m['value']:.6g} {m['unit']}{fmt_extra(m)}")
    for kind, k in res["kinds"].items():
        print(f"  op {kind:22s} n={k['n']:<4d} p50={k['p50_s']:.4f}s sum={k['sum_s']:.3f}s")
    for p in res["problems"]:
        print(f"! {p}")
    if args.trace:
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)["per_layer"]
        for name, v in res["per_layer"].items():
            why = layers.get(name, {})
            print(f"{name:40s} {v:.6g}  -> {why.get('moves', '')} "
                  f"[busy: {why.get('busy', '')}; idle: {why.get('idle', '')}]")
        base = last_untraced(args.workload)
        if base:
            print(f"# tracing overhead vs untraced run seed={base['seed']} at {base['time']}:")
            for name, m in res["e2e"].items():
                b = base["e2e"].get(name)
                if b and b["value"]:
                    d = m["value"] - b["value"]
                    print(f"  {name:24s} traced-untraced {d:+.6g} {m['unit']} ({100 * d / b['value']:+.1f}%)")
        else:
            print("# tracing overhead: no untraced run of this workload recorded yet")
        print(f"# spans: {os.path.relpath(out_file[:-5] + '.spans.jsonl', ROOT)}")

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = res["per_layer"] if args.trace else {k: v["value"] for k, v in res["e2e"].items()}
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    ok = record["correct"]
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
