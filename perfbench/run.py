#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its metrics.

    python3 perfbench/run.py --workload table_olap --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the program
and the harness from source with sbt (offline, into .bench_build/);
later runs reuse the build while the sources are unchanged. Each run
gets a fresh root under .bench_build/runs/ that holds the tmpdir,
warehouse, tables, indexes and checkpoints, and that is deleted when
the run ends.

The output is a human-readable report (every metric by name and unit,
the output checks, failures with their reasons and the validity
stamps) and, as the last line, one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The exit code is 0
only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

WORKLOADS = ("table_olap", "stream_ingest", "llm_curate")
HEAP = "3g"  # fixed driver heap (-Xms = -Xmx) for every run
LLM_SCALE_COPIES = 2  # graft.tools.ScaleGen factor for the llm_curate corpus
RUN_TIMEOUT_S = 170  # for everything a run does after the build
# the time the traced stream_ingest run's local[1] baseline needs left
# to start
SINGLE_CORE_MIN_LEFT_S = 80
BUILD_TIMEOUT_S = 850
BUILD_DIR = ".bench_build"
# the class-data-sharing archive of the classes a Spark session loads
CDS_ARCHIVE = "perfbench.jsa"
# paths of the checkout a run must never touch
GUARDED = ("target/scratch", "spark-warehouse")
# per-phase streaming metrics of the traced run's single-core baseline
SINGLE_CORE = ("trigger_ms", "add_batch_ms", "overhead_ms", "wal_commit_ms",
               "commit_offsets_ms", "state_commit_ms")
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


# child processes still running; stopped if this script is signalled
CHILDREN = []


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def stop_children(signum, _frame):
    for proc in list(CHILDREN):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    raise SystemExit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns the exit code, or None when it timed out."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    CHILDREN.append(proc)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        CHILDREN.remove(proc)


def source_fingerprint(root, bench):
    """Hash of (path, size, mtime) of every input of the build."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(bench, "src"),
            os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
            os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, root)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, bench):
    """Compile the program and the harness; return the runtime classpath."""
    out = os.path.join(root, BUILD_DIR)
    cp_file = os.path.join(out, "perfbench.classpath")
    jar_cp_file = os.path.join(out, "perfbench.jars")
    stamp_file = os.path.join(out, "perfbench.stamp")
    fp = source_fingerprint(root, bench)
    if os.path.exists(jar_cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == fp:
                with open(jar_cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    for f in (stamp_file, jar_cp_file, os.path.join(out, CDS_ARCHIVE)):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("perfbench: building program and harness with sbt ...")
    t = time.time()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.forcestart=false", f"-Djava.io.tmpdir={tmp}",
                    "-J-XX:-UsePerfData", "writeClasspath"],
                   BUILD_TIMEOUT_S, cwd=bench, env=env)
    if rc != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    log(f"perfbench: build took {time.time() - t:.0f} s")
    with open(cp_file) as f:
        cp = jar_classpath(f.read().strip(), os.path.join(out, "jars"))
    t = time.time()
    # the archive only lets each run's JVM load its session's classes
    # faster; a run without it is as correct, only slower to start
    rc = run_child(java_cmd(cp, tmp, [f"-XX:ArchiveClassesAtExit={out}/{CDS_ARCHIVE}"])
                   + ["graft.perfbench.Warm", os.path.join(out, "warm")],
                   BUILD_TIMEOUT_S, cwd=root)
    shutil.rmtree(os.path.join(out, "warm"), ignore_errors=True)
    log(f"perfbench: class-data archive {'written' if rc == 0 else 'failed'} "
        f"in {time.time() - t:.0f} s")
    with open(jar_cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(fp)
    return cp


def jar_classpath(cp, jar_dir):
    """The classpath with each class directory packed into a jar: the
    class-data archive takes classes from jars only."""
    shutil.rmtree(jar_dir, ignore_errors=True)
    os.makedirs(jar_dir)
    entries = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(jar_dir, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in os.walk(p):
                    for f in sorted(fs):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, p))
            p = jar
        entries.append(p)
    return os.pathsep.join(entries)


def java_cmd(cp, tmp, extra=()):
    """The JVM every run uses: fixed heap, G1, UTC."""
    return ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            *extra, "-cp", cp]


def tree_state(root):
    """(path, size, mtime) of everything under the guarded paths."""
    state = set()
    for g in GUARDED:
        top = os.path.join(root, g)
        if os.path.exists(top):
            state.add((g, -1, os.stat(top).st_mtime_ns))
            for d, _, fs in os.walk(top):
                for f in fs:
                    p = os.path.join(d, f)
                    st = os.lstat(p)
                    state.add((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return state


def steal_jiffies():
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    return int(line.split()[8])
    except OSError:
        pass
    return -1


def load_avg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def busy_sibling_jvms():
    """Java processes (none of them ours) that used CPU in a 250 ms window."""
    def cpu(pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
            fields = s[s.rindex(")") + 2:].split()
            return int(fields[11]) + int(fields[12])
        except (OSError, ValueError, IndexError):
            return None
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/comm") as f:
                    if f.read().strip() == "java":
                        pids.append(p)
            except OSError:
                pass
    before = {p: cpu(p) for p in pids}
    time.sleep(0.25)
    return sum(1 for p, c in before.items() if c is not None and (cpu(p) or 0) > c)


def run_jvm(cp, root, run_dir, args, cores, seconds, result, timeout, extra=()):
    """Run the harness in its own JVM; return its parsed result or None."""
    archive = os.path.join(root, BUILD_DIR, CDS_ARCHIVE)
    cds = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    cmd = (java_cmd(cp, f"{run_dir}/tmp", cds) + ["graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
            "--root", run_dir, "--cores", str(cores), "--out", result, *extra])
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SCALE_SRC": f"{run_dir}/data/base",
        "SPARK_GRAFT_SCALE_OUT": f"{run_dir}/data/scaled",
        "SPARK_GRAFT_SCALE_COPIES": str(LLM_SCALE_COPIES),
        "SPARK_GRAFT_SCALE_TABLES": "documents,embeddings",
    })
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    rc = run_child(cmd, timeout, cwd=root, env=env)
    if rc is None:
        log(f"perfbench: run exceeded {timeout:.0f} s; stopped it")
        return None
    if not os.path.exists(result):
        log(f"perfbench: harness exited {rc} without a result")
        return None
    with open(result) as f:
        return json.load(f)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, (int, float)) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("perfbench: no graft sources here; run from the root of a checkout")
        return 2
    spec_path = os.path.join(root, "BENCHMARK.json")
    spec = json.load(open(spec_path)) if os.path.exists(spec_path) else None

    cp = build(root, bench)
    run_dir = os.path.join(root, BUILD_DIR, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_dir = os.path.join(root, BUILD_DIR, "traces")
    spans = (os.path.join(trace_dir, f"{args.workload}-s{args.seed}.spans.jsonl")
             if args.trace else None)
    guarded_before = tree_state(root)
    steal0, wall0 = steal_jiffies(), time.time()
    load0, busy0 = load_avg(), busy_sibling_jvms()
    try:
        res = run_jvm(cp, root, run_dir, args, os.cpu_count(), args.seconds,
                      os.path.join(run_dir, "result.json"), RUN_TIMEOUT_S,
                      ["--spans", spans] if spans else [])
        single = None
        left = RUN_TIMEOUT_S - (time.time() - wall0)
        if (res is not None and args.trace and args.workload == "stream_ingest"
                and left >= SINGLE_CORE_MIN_LEFT_S):
            single = run_jvm(cp, root, os.path.join(run_dir, "single"), args, 1,
                             args.seconds,
                             os.path.join(run_dir, "single", "result.json"), left,
                             ["--bursts", "0"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    elapsed = time.time() - wall0
    steal1, load1, busy1 = steal_jiffies(), load_avg(), busy_sibling_jvms()
    if res is None:
        return 1
    if single is not None:
        for k in SINGLE_CORE:
            res["per_layer"][f"stream1.{k}"] = res_value(single["per_layer"], f"stream.{k}")
        res["per_layer"]["stream1.freshness_p50_ms"] = res_value(
            single["report"], "freshness_p50_ms")
        res["checks"] += [dict(c, name="local[1]: " + c["name"]) for c in single["checks"]]
    elif args.trace and args.workload == "stream_ingest":
        res["notes"]["stream1"] = "local[1] baseline skipped or stopped: not enough of the run's time left"

    touched = sorted({p for p, *_ in guarded_before ^ tree_state(root)})
    res["checks"].append({"name": "run left target/scratch and spark-warehouse alone",
                          "ok": not touched, "detail": ", ".join(touched[:5])})

    steal_rate = (steal1 - steal0) / elapsed if steal0 >= 0 and steal1 >= 0 else -1.0
    max_steal = res["notes"].get("max_steal_per_s", 6.0)
    invalid = []
    if steal_rate > max_steal:
        invalid.append(f"host steal {steal_rate:.1f} jiffies/s > {max_steal}")
    if max(busy0, busy1) > 0:
        invalid.append(f"{max(busy0, busy1)} busy sibling JVM(s)")
    late = res["notes"].get("gen_late_max_ms")
    if late is not None and late > 100:
        invalid.append(f"generator late by up to {late:.0f} ms")

    correct = all(c["ok"] for c in res["checks"]) and bool(res["checks"])
    kind = "per_layer" if args.trace else "metrics"
    values = res[kind]
    if spec is not None:
        names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
        missing = [n for n in names if n not in values]
        if missing:
            correct = False
            res["checks"].append({"name": "every metric reported", "ok": False,
                                  "detail": ", ".join(missing)})
        values = {n: values[n] for n in names if n in values}

    print(f"perfbench {args.workload} seed={args.seed} cores={os.cpu_count()} heap={HEAP} "
          f"trace={args.trace} seconds={args.seconds:g} elapsed_s={elapsed:.1f}")
    print(f"  validity: {'invalid: ' + '; '.join(invalid) if invalid else 'valid'} "
          f"(steal {steal_rate:.2f} jiffies/s, load {load0:.2f}->{load1:.2f}, "
          f"busy sibling JVMs {busy0}/{busy1})")
    print(f"  ops: attempted={res['attempted']} failed={res['failed']}")
    for k, m in res["report"].items():
        print(f"  {k:34s} {fmt(m['value']):>12s} {m['unit']}")
    for k, v in res["notes"].items():
        print(f"  note {k}: {fmt(v) if not isinstance(v, dict) else json.dumps(v)}")
    if args.trace:
        for k, m in res["per_layer"].items():
            print(f"  layer {k:40s} {fmt(m['value']):>12s} {m['unit']}")
        print(f"  spans: {spans}")
    for c in res["checks"]:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}"
              + (f" ({c['detail']})" if c["detail"] else ""))
    for f in res["failures"]:
        print(f"  failure: {f}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                                  for k, m in values.items()}}))
    return 0 if correct else 1


def res_value(metrics, name):
    m = metrics.get(name)
    return m if m is not None else {"value": 0.0, "unit": "ms"}


if __name__ == "__main__":
    sys.exit(main())
