#!/usr/bin/env python3
"""The repository benchmark: one seeded workload against the engine's public
API on local[4], checked, with its metrics printed as one JSON line.

    python3 perfbench/run.py --workload maintain|ingest_stream \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Everything the run writes stays inside the
checkout: the build under target/, project/target/ and perfbench/target,
inputs under perfbench/.cache, the run's tables under a size-capped
perfbench/.work/<run> that is deleted when the run ends, and small records
under perfbench/.results.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Everything else goes to standard error or to the
'#'-prefixed report lines before it. See perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("maintain", "ingest_stream")
WORK_CAP_BYTES = 2 << 30  # a run that writes more than this is failed
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
CACHE_KEEP = 8  # image fixtures kept per build
JVM_HEAP = "3g"
CHILDREN = []  # running child processes, killed if this process is stopped
WORK_DIRS = []  # this run's work directories, deleted if it is stopped
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spawn(cmd, cwd, env=None):
    """Starts a child in its own process group, so stopping it stops
    everything it started."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    CHILDREN.append(proc)
    return proc


def reap(proc):
    """Kills whatever is left of the child's process group, and waits."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    CHILDREN.remove(proc)


def stop(*_):
    """SIGTERM/SIGINT: kill every child's process group and reap it with
    os.waitpid, not Popen.wait, whose lock the interrupted frame may hold."""
    for proc in list(CHILDREN):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        try:
            os.waitpid(proc.pid, 0)
        except ChildProcessError:
            pass
    for d in WORK_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    sys.exit(1)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def fingerprint():
    h = hashlib.sha1()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def build(fp):
    """sbt compile of the engine plus the harness; returns the classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "fingerprint.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            cp = g.read().split("\n")
            if f.read().strip() == fp and all(os.path.exists(p) for p in cp):
                return cp
    # sbt reads its offline caches from the home directory; what it would
    # write outside the checkout (boot and ivy lock files, its server's
    # socket, native libraries unpacked to the temporary directory, JVM
    # perf data) is turned off or kept under target/.
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.boot.lock=false",
            f"-Dsbt.ivy.home={os.path.join(target, 'ivy2')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log(f"building {fp} with sbt")
    t0 = time.time()
    proc = spawn(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "writeClasspath"],
                 HERE, env)
    try:
        code = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        reap(proc)
    if code != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"[perfbench] build failed (sbt: {code})")
    with open(cp_file) as g:
        cp = g.read().split("\n")
    archive_classes(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def archive_path():
    return os.path.join(HERE, "target", "app.jsa")


def archive_classes(cp):
    """Dumps the classes a session start and a small table round trip load
    into a class-data-sharing archive that every run maps instead of
    loading them, which halves session start (part of setup_s). A build
    without the archive is a failed build, so setup_s always times the
    same kind of start."""
    archive = archive_path()
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-archive")
    WORK_DIRS.append(work)
    os.makedirs(work, exist_ok=True)
    try:
        code, reason = run_jvm(cp, ["--workload", "warmup", "--seed", "0", "--trace", "0",
                                    "--home", HERE, "--work", os.path.join(work, "w"),
                                    "--cache", os.path.join(work, "cache"), "--fingerprint", "warmup",
                                    "--out", os.path.join(work, "out.json")],
                               work, f"-XX:ArchiveClassesAtExit={archive}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or reason or not os.path.exists(archive):
        raise SystemExit(f"[perfbench] build failed: no class-data-sharing archive "
                         f"({reason or f'exit {code}'})")


def tree_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def prune_cache(cache, fp):
    """Drop cached inputs of other builds, half-written ones left by a
    killed run, and all but the newest image fixtures of this build."""
    if not os.path.isdir(cache):
        return
    mine = []
    for name in os.listdir(cache):
        p = os.path.join(cache, name)
        if fp not in name or name.startswith(".tmp-"):
            shutil.rmtree(p, ignore_errors=True)
        elif name.startswith("images-"):
            mine.append((os.path.getmtime(p), p))
    for _, p in sorted(mine)[:-CACHE_KEEP]:
        shutil.rmtree(p, ignore_errors=True)


def prune_work(work_root):
    """Remove work directories left by runs whose process is gone."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        pid = name.split("-")[1] if name.startswith("run-") else ""
        alive = False
        if pid.isdigit():
            try:
                os.kill(int(pid), 0)
                alive = True
            except OSError:
                pass
        if not alive:
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def load_avg():
    return [round(x, 2) for x in os.getloadavg()]


def run_jvm(cp, args, work, cds=None):
    """Runs the harness with the class-data-sharing archive (or with `cds`,
    the option that dumps it); kills it if the work directory passes the cap
    or the run passes its time limit. Returns (exit code, reason or None)."""
    # -XX:-UsePerfData: no hsperfdata file in the system's temp directory.
    cmd = ["java", "-XX:-UsePerfData", "-Xshare:auto" if cds else "-Xshare:on",
           cds or f"-XX:SharedArchiveFile={archive_path()}",
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + [
        a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", ":".join(cp), "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = spawn(cmd, work)
    reason = []
    done = threading.Event()

    def watch():
        t0 = time.time()
        while not done.wait(0.25):
            if tree_bytes(work) > WORK_CAP_BYTES:
                reason.append(f"work directory passed its {WORK_CAP_BYTES >> 20} MiB cap")
            elif time.time() - t0 > RUN_TIMEOUT_S:
                reason.append(f"run passed {RUN_TIMEOUT_S} s")
            if reason:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                return

    w = threading.Thread(target=watch, daemon=True)
    w.start()
    try:
        code = proc.wait()
    finally:
        reap(proc)
        done.set()
        w.join()
    return code, (reason[0] if reason else None)


# Byte ratios that may differ in the last digits for one seed: compaction
# breaks ties between equal-size files by path, and every append's data
# directory has a random name, so the packing (and the compressed bytes)
# of a compacted file can change from run to run.
BYTE_RATIOS = ("write_amp", "space_amp")
BYTE_RATIO_TOLERANCE = 1e-3


def check_counters(results, fp, args, counters):
    """Counters must repeat for a fixed seed: the first run of a (build,
    workload, seed, trace) records them, every later one compares (traced
    runs count more layers). Counts must match exactly, the byte ratios to
    within BYTE_RATIO_TOLERANCE."""
    seed = args.seed
    path = os.path.join(results, f"counters-{fp}-{args.workload}-{seed}-t{args.trace}.json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(counters, f, sort_keys=True)
        return []
    with open(path) as f:
        first = json.load(f)

    def same(k, v):
        w = counters.get(k)
        if k in BYTE_RATIOS and w is not None and v:
            return abs(w / v - 1) <= BYTE_RATIO_TOLERANCE
        return w == v
    return [f"counter {k}: {counters.get(k)} != {v} on an earlier run with seed {seed}"
            for k, v in sorted(first.items()) if not same(k, v)]


def report(doc, args, before, after, fp):
    """The '#' lines: the workload's own metrics with units and sample
    counts, the host, and for traced runs the layers and self times."""
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} build={fp} "
          f"nproc={os.cpu_count()} load_before={before} load_after={after}")
    for k, v in doc["detail"].items():
        print(f"#   {k:28s} {v['value']!s:>22} {v['unit']:7s} n={v['n']}")
    if args.trace:
        for k, v in doc["layer"].items():
            print(f"#   layer {k:40s} {v}")
        for s in doc["self_ms"][:12]:
            print(f"#   self {s['span']:34s} calls={s['calls']:<5} total={s['total_ms']:.1f} ms "
                  f"self={s['self_ms']:.1f} ms")
    for msg in doc["failures"][:20]:
        print(f"#   FAILED {msg}")


def tracing_overhead(results, fp, args, e2e):
    """Traced minus untraced end-to-end numbers for the same build and seed."""
    path = os.path.join(results, f"e2e-{fp}-{args.workload}-{args.seed}.json")
    if not args.trace:
        with open(path, "w") as f:
            json.dump(e2e, f, sort_keys=True)
        return
    if not os.path.exists(path):
        print("#   tracing overhead: no untraced run of this build and seed yet")
        return
    with open(path) as f:
        base = json.load(f)
    for k in sorted(base):
        if k in e2e and base[k]:
            print(f"#   tracing overhead {k:20s} {e2e[k] - base[k]:+.4g} ({(e2e[k] / base[k] - 1) * 100:+.1f}%)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # Each workload runs a fixed amount of work, so that its counters
    # repeat for a seed; --seconds is part of the common command line only.
    ap.add_argument("--seconds", type=float, required=True, help="accepted; the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources next to the benchmark (want {ROOT}/build.sbt and src/main/scala/graft)")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    fp = fingerprint()
    cp = build(fp)
    cache = os.path.join(HERE, ".cache")
    results = os.path.join(HERE, ".results")
    work_root = os.path.join(HERE, ".work")
    for d in (cache, results, work_root):
        os.makedirs(d, exist_ok=True)
    prune_cache(cache, fp)
    prune_work(work_root)
    free = shutil.disk_usage(HERE).free
    if free < WORK_CAP_BYTES:
        log(f"only {free >> 20} MiB free; a run may need {WORK_CAP_BYTES >> 20} MiB")
        return 3

    work = os.path.join(work_root, f"run-{os.getpid()}-{args.workload}")
    WORK_DIRS.append(work)
    out = os.path.join(work, "result.json")
    os.makedirs(work, exist_ok=True)
    before = load_avg()
    try:
        jargs = ["--workload", args.workload, "--seed", str(args.seed),
                 "--trace", str(args.trace),
                 "--home", HERE, "--work", os.path.join(work, "w"), "--cache", cache,
                 "--fingerprint", fp, "--out", out,
                 "--spans", os.path.join(results, f"spans-{args.workload}.jsonl")]
        code, reason = run_jvm(cp, jargs, work)
        if reason or code != 0 or not os.path.exists(out):
            log(f"run failed: {reason or f'harness exit {code}'}")
            return 4
        with open(out) as f:
            doc = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = load_avg()

    repeat = check_counters(results, fp, args, doc["counters"])
    doc["failures"] += repeat
    attempted = int(doc["attempted"]) + 1  # + the repeat check of the counters
    failed = int(doc["failed"]) + (1 if repeat else 0)

    metrics = {}
    source = doc["layer"] if args.trace else doc["e2e"]
    for m in wanted:
        v = source.get(m["name"])
        if v is None and args.trace:
            v = 0.0  # the layer is not exercised by this workload
        if v is None:
            log(f"metric {m['name']} was not measured")
            return 5
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    report(doc, args, before, after, fp)
    tracing_overhead(results, fp, args, doc["e2e"])
    with open(os.path.join(results, "history.jsonl"), "a") as f:
        f.write(json.dumps({"time": int(time.time()), "build": fp, "workload": args.workload,
                            "seed": args.seed, "trace": args.trace, "nproc": os.cpu_count(),
                            "load_before": before, "load_after": after, "failed": failed,
                            "e2e": doc["e2e"], "detail": {k: v["value"] for k, v in doc["detail"].items()}})
                + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
