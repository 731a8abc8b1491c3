#!/usr/bin/env python3
"""graft benchmark: three workloads on the sf0.1 tables, in one JVM per run.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 12 --trace 0

Run from the root of the repository. The first run builds the repository
and the harness with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The JVM is then started directly, with
the repository's `Compile / run` flags, on `local[N]` with N = the cores
this process may use.

Workloads:
  headline  the nine Registry.headline queries into a noop sink
  barriers  five queries dominated by eager localCheckpoint barriers
  ingest    the streaming near-duplicate ingest daemon, Streams.lshDedupIngest

Every operation's output is checked after its timing. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). The
line before it is the run's artifact: every sample, the checks, the layer
split and the provenance (seed, source digest, JVM flags, heap, RSS, load).

    python3 perfbench/run.py --steady 5 --workload headline

runs two sets of five seeds each and prints, per end-to-end metric, the
median and quartiles of each set and of both together, whether the second
set's median is within the bound in BENCHMARK.json of the first's, and the
spread (quartile distance over median) of all runs as a share of the bound.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.tsv")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("headline", "barriers", "ingest")
# fewest measured passes (of each kind, with --trace 1)
MIN_PASSES = {"headline": 2, "barriers": 1, "ingest": 2}
# barriers is not in BENCHMARK.json: one of its passes takes about 30 s
RUN_TIMEOUT_S = {"headline": 170, "barriers": 400, "ingest": 170}
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def sources(root):
    """Every file the build reads, for the build stamp and the provenance."""
    out = [os.path.join(root, f) for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    out.append(os.path.join(HERE, "build.sbt"))
    return [p for p in out if os.path.isfile(p)]


def source_digest(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build(root, digest):
    """Compiles with sbt unless the launch file matches these sources."""
    launch, stamp = os.path.join(TARGET, "launch.txt"), os.path.join(TARGET, "perfbench.stamp")
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return launch
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_GRAFT_CPUS=str(cores()))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(p)
            rc = -1
    if rc != 0 or not os.path.exists(launch):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc={rc}); log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return launch


def stop(p):
    """Kills a child's whole process group and waits for it."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[3] + v[4]  # total, idle + iowait


def steal_s():
    """CPU time the hypervisor gave to others while this VM wanted it."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def box_sample(seconds=0.5):
    """Load average, and cores busy with other processes over a short window."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    t0, i0 = cpu_jiffies()
    own0 = sum(os.times()[:2])
    time.sleep(seconds)
    t1, i1 = cpu_jiffies()
    own = sum(os.times()[:2]) - own0
    hz = os.sysconf("SC_CLK_TCK")
    busy = ((t1 - t0) - (i1 - i0)) / hz - own
    return {"loadavg": load, "foreign_cores": round(max(0.0, busy) / seconds, 3)}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest whole percentile with at least 10 samples beyond it
    (never below the median), interpolated between samples."""
    n = len(xs)
    if n < 2:
        return median(xs), 50, n
    p = max(50, math.floor(100 * (n - 10) / n))
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1], p, n


def metrics(art):
    passes = art["passes"]
    ops = [o for p in passes for o in p["ops"]]
    failed = sum(1 for o in ops if not o["ok"])
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    good = [o for p in warm for o in p["ops"] if o["ok"]]
    by_op = {}
    for o in good:
        by_op.setdefault(o["name"], []).append(o["seconds"])
    t, tq, tn = tail([o["seconds"] for o in good])
    win = art["window"]
    e2e = {
        "setup_s": (median(art["setup"]["setup_s"]), "s"),
        "cold_pass_s": (passes[0]["timed_s"], "s"),
        "warm_pass_s": (median([p["timed_s"] for p in warm]), "s"),
        "op_p50_s": (median([o["seconds"] for o in good]), "s"),
        "op_tail_s": (t, "s"),
        "op_geomean_s": (math.exp(statistics.fmean(math.log(median(v)) for v in by_op.values()))
                         if by_op else float("nan"), "s"),
        "peak_rss_mb": (art["jvm"]["vm_hwm_mb"], "MB"),
        "bytes_written_per_input_byte": (win["wchar"] / win["rchar"], "ratio"),
    }
    layers = {}
    traced = [p for p in passes if p["traced"]]
    if traced:
        for k in traced[0]["layers"]:
            layers[k] = median([p["layers"][k] for p in traced])
        layers.update(art["functions"])
        layers["trace.overhead_s"] = median([p["timed_s"] for p in traced]) - e2e["warm_pass_s"][0]
        layers["trace.unattributed_s"] = median([sum(o["unattributed_s"] for o in p["split"])
                                                 for p in traced])
    split = [o for p in traced for o in p["split"]]
    info = {
        "op_fail_ratio": failed / len(ops) if ops else 1.0,
        "attempted": len(ops), "failed": failed,
        "op_tail_percentile": tq, "op_tail_n": tn,
        "warm_passes": len(warm), "warm_ops_by_name": {k: sorted(v) for k, v in by_op.items()},
        "read_mb_per_warm_window": win["rchar"] / 1048576,
        "layer_sum_max_error": max((abs(o["unattributed_s"]) / o["wall_s"] for o in split), default=None),
        "errors": sorted({o["error"] for o in ops if o["error"]})[:10],
    }
    return e2e, layers, info


def run_once(args, root):
    digest = source_digest(root)
    launch = build(root, digest)
    opts, cp = [], []
    for line in open(launch).read().splitlines():
        kind, _, value = line.partition(" ")
        (opts if kind == "opt" else cp).append(value)
    runs = os.path.join(root, ".perfbench_tmp")
    for old in os.listdir(runs) if os.path.isdir(runs) else []:
        pid = old.rpartition("-")[2]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):  # left by a killed run
            shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    tmp = os.path.join(runs, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "java"))
    out = os.path.join(tmp, "artifact.json")
    before = box_sample()
    cmd = ["java"] + opts + [
        f"-Djava.io.tmpdir={tmp}/java", f"-Dspark.local.dir={tmp}/local",
        f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-cp", os.pathsep.join(cp), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", DATA, "--tmp", tmp, "--out", out,
        "--expected", EXPECTED, "--min-passes", str(MIN_PASSES[args.workload]), "--cores", str(cores())]
    log_path = os.path.join(tmp, "jvm.log")
    p = None
    try:
        with open(log_path, "w") as log:
            steal0 = steal_s()
            launch_ms = int(time.time() * 1000)
            p = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)], stdout=log,
                                 stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                 start_new_session=True)
            deadline = time.time() + RUN_TIMEOUT_S[args.workload]
            rc, usage = None, None
            while time.time() < deadline:
                pid, status, usage = os.wait4(p.pid, os.WNOHANG)
                if pid:
                    rc = os.waitstatus_to_exitcode(status)
                    p.returncode = rc
                    try:  # anything the JVM left behind in its group
                        os.killpg(p.pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                    break
                time.sleep(0.2)
            if rc is None:
                stop(p)
                fail(f"the benchmark JVM did not finish within {RUN_TIMEOUT_S[args.workload]} s")
        wall = time.time() - launch_ms / 1000
        steal = steal_s() - steal0
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(log_path).read()[-4000:])
            fail(f"the benchmark JVM exited with {rc}")
        art = json.load(open(out))
        after = box_sample()
    finally:
        if p is not None and p.returncode is None:
            stop(p)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    e2e, layers, info = metrics(art)
    art.update(info)
    art["provenance"] = {
        "seed": args.seed, "git_commit": git_commit(root), "source_digest": digest,
        "nproc": cores(), "box_before": before, "box_after": after,
        "jvm_cpu_s": usage.ru_utime + usage.ru_stime, "run_wall_s": wall,
        "steal_cores": steal / wall,
        "java": cmd[:len(opts) + 4],
    }
    art["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    art["end_to_end"]["op_fail_ratio"] = {"value": info["op_fail_ratio"], "unit": "ratio"}
    art["per_layer"] = layers
    print(json.dumps(art, sort_keys=True))
    chosen = layers if args.trace else {k: v for k, (v, _) in e2e.items()}
    units = {m["name"]: m["unit"] for m in bench_spec()["end_to_end" if not args.trace else "per_layer"]}
    result = {
        "correct": info["failed"] == 0, "attempted": info["attempted"], "failed": info["failed"],
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))


def bench_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def steady(args):
    """Two sets of runs of the same code; per metric, medians, quartiles
    and whether the second set stays within the bound of the first."""
    spec = bench_spec()
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    sets = []
    for s in range(2):
        vals = {}
        for i in range(args.steady):
            seed = 1000 * (s + 1) + i
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            try:
                out, err = child.communicate()
            finally:  # a terminated run still stops its JVM (see main)
                if child.returncode is None:
                    child.terminate()
                    child.wait()
            if child.returncode != 0:
                fail(f"run with seed {seed} failed:\n{err[-2000:]}")
            last = json.loads(out.strip().splitlines()[-1])
            print(f"set {s + 1} seed {seed}: correct={last['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
            for k, v in last["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        sets.append(vals)
    def quartiles(xs):
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        return q1, q2, q3, (q3 - q1) / q2

    ok = True
    for k, m in bounds.items():
        line = [k]
        for vals in sets + [{k: sets[0][k] + sets[1][k]}]:
            q1, q2, q3, spread = quartiles(vals[k])
            line.append(f"median={q2:.4g} q1={q1:.4g} q3={q3:.4g} spread={spread:.3f}")
        m1, m2 = quartiles(sets[0][k])[1], quartiles(sets[1][k])[1]
        agree = (m2 - m1) / m1 * (1 if m["better"] == "lower" else -1) <= m["bound"]
        spread = quartiles(sets[0][k] + sets[1][k])[3]
        ok &= agree and (k == "setup_s" or spread <= m["bound"])
        line.append(f"bound={m['bound']} agree={agree} spread/bound={spread / m['bound']:.2f}")
        print(" | ".join(line))
    print(json.dumps({"workload": args.workload, "steady": ok}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="RUNS",
                    help="run two sets of RUNS seeds and compare them")
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its files (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"), DATA, EXPECTED):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of the graft repository")
    if args.seconds is None:
        args.seconds = bench_spec()["run_seconds"]
    if args.steady:
        steady(args)
    else:
        run_once(args, root)


if __name__ == "__main__":
    main()
