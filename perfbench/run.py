#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft store.

Run from the repository root:

    python3 perfbench/run.py --workload <ingest_tail|kv_point|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness from
source with sbt (offline) into the checkout's own target directories.
Each run then starts one JVM on local[nproc], sets the workload up from
the seed, measures for the given seconds, checks every output, and prints
a readable report followed, as the last line, by one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 they are the per-layer
metrics, and the report adds the tracing overhead against the untraced
runs of the same workload kept in .bench_work/results/.

Exit status: 0 when every check passed, 1 when a check failed, 2 on bad
arguments or a checkout without the program's sources, 3 when the build
or the run itself failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("ingest_tail", "kv_point", "query_mix")
E2E = ("setup_s", "peak_rss_mb", "primary_p50_ms", "primary_p90_ms",
       "secondary_p50_ms", "secondary_p90_ms", "pass_s")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# A fixed, pre-touched heap: peak RSS then measures what the process holds
# beyond the heap (metaspace, code, threads, direct buffers) instead of
# when the collector chose to grow the heap.
JVM_HEAP = "2g"
# The JIT stops at C1 (-XX:TieredStopAtLevel=1). Under C2, calls kept
# getting faster for the whole of a 30 s run (kv_point gets went from about
# 500 to 380 ms), so a 10 s window measured how far compilation had got.
# C1 reaches its plateau during the warm-up; kernel-bound calls run a few
# tens of percent slower than under C2.
# What Spark's launcher adds on JDK 17 when a session starts outside
# spark-submit (the root build passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if any(t in name for t in ("ratio", "share", "cpu_per_run", "per_event_byte")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness; return the runtime classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("perfbench: building the program and the harness with sbt")
    t0 = time.time()
    build_log = os.path.join(BUILD_DIR, "build.log")
    with open(build_log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(build_log) as f:
        lines = [x.strip() for x in f if x.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        log("perfbench: build failed; last lines of " + build_log)
        for x in lines[-30:]:
            log("  " + x)
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp


def cpu_ticks():
    """(busy, steal) jiffies of the whole machine from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - v[3] - v[4], steal  # all but idle and iowait


def run_jvm(cp, args, work, out, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # the program's fixture scratch stays inside the run's work directory
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.makedirs(env["SPARK_GRAFT_SCRATCH"], exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               env=env, timeout=max(10, deadline - time.time()))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.isfile(out):
        log(f"perfbench: the benchmark JVM ended with {code}; last lines of its log:")
        with open(jvm_log, errors="replace") as f:
            for x in f.readlines()[-40:]:
                log("  " + x.rstrip())
        return None
    with open(out) as f:
        return json.load(f)


def oracle_check(res):
    """Check the inventory results against DuckDB; count each mismatching
    query's calls as failed operations."""
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import oracle
    o = res["oracle"]
    verdicts = oracle.check(o["tables"], o["results"])
    for name in o["calls"]:
        if name not in verdicts:
            verdicts[name] = "no result to check"
    for name, why in sorted(verdicts.items()):
        if why is not None:
            res["failed"] += max(1, o["calls"].get(name, 1))
            res["failures"].append(f"oracle: {name}: {why}")
    res["oracle_verdicts"] = {k: (v or "match") for k, v in verdicts.items()}


def saved_untraced(workload):
    d = os.path.join(WORK_ROOT, "results")
    out = []
    if os.path.isdir(d):
        for n in sorted(os.listdir(d)):
            if n.startswith(workload + "-trace0-"):
                try:
                    with open(os.path.join(d, n)) as f:
                        out.append(json.load(f))
                except (OSError, ValueError):
                    pass
    return out


def report(res, args):
    p = lambda s="": print(s, flush=True)
    e2e = res["e2e"]
    attempted, failed = res["attempted"], res["failed"]
    p(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    p(f"correct={failed == 0} attempted={attempted} failed={failed} "
      f"fail_ratio={failed / max(1, attempted):.6f}")
    for msg in res["failures"][:20]:
        p(f"  FAIL {msg}")
    p("operations: " + ", ".join(f"{k}={v}" for k, v in sorted(res["op_counts"].items())))
    s = res["samples"]
    p(f"samples: primary n={s['primary']['n']} (beyond p90: {s['primary']['beyond_p90']}), "
      f"secondary n={s['secondary']['n']} (beyond p90: {s['secondary']['beyond_p90']}), "
      f"passes n={s['pass']['n']}")
    p("end-to-end" + (" (measured with tracing on)" if args.trace else "") + ":")
    for k in E2E:
        p(f"  {k:<22} {e2e[k]['value']:>14.3f} {e2e[k]['unit']}")
    p("by the workload's own names:")
    for r in res["report"]:
        p(f"  {r['name']:<40} {r['value']:>14.3f} {r['unit']}")
    v = res["validity"]
    p(f"validity: nproc={v['nproc']} loadavg start={v['loadavg_start']} end={v['loadavg_end']} "
      f"cpu/wall={v['cpu_per_wall']:.3f} gc_ms={v['gc_ms']:.0f} "
      f"late p90={v['gen_late_p90_ms']:.3f} ms max={v['gen_late_max_ms']:.3f} ms "
      f"session={v['session_s']:.2f} s setup reps={[round(x, 2) for x in v['setup_reps_s']]} s "
      f"warm={v['warm_s']:.2f} s steal={v.get('steal_share', 0):.3f}")
    if "oracle_verdicts" in res:
        ok = sum(1 for x in res["oracle_verdicts"].values() if x == "match")
        p(f"oracle: {ok}/{len(res['oracle_verdicts'])} inventory results match DuckDB")
    if args.trace:
        p("per-layer:")
        for k in sorted(res["layers"]):
            p(f"  {k:<40} {res['layers'][k]:>16.3f} {unit_of(k)}")
        base = saved_untraced(args.workload)
        if base:
            p(f"tracing overhead (traced minus the median of {len(base)} untraced runs):")
            for k in E2E:
                m = statistics.median(b["e2e"][k]["value"] for b in base)
                d = e2e[k]["value"] - m
                p(f"  {k:<22} {d:>+14.3f} {e2e[k]['unit']} ({d / m:+.1%})" if m else f"  {k:<22} {d:>+14.3f}")
        else:
            p("tracing overhead: no untraced run of this workload saved yet")


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; choose one of {', '.join(WORKLOADS)}")
        sys.exit(2)
    if args.seconds < 1:
        log("perfbench: --seconds must be at least 1")
        sys.exit(2)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("perfbench: run from the repository root; the program's sources "
            "(build.sbt, src/main/scala/graft) are not here")
        sys.exit(2)
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            log(f"perfbench: {tool} is not on PATH")
            sys.exit(3)

    cp = build()
    run_started = time.time()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        # the time limit covers the run, not a first build
        ticks0 = cpu_ticks()
        res = run_jvm(cp, args, work, out, run_started + RUN_TIMEOUT_S)
        if res is None:
            sys.exit(3)
        res["validity"]["jvm_s"] = time.time() - run_started
        ticks1 = cpu_ticks()
        if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
            # time the hypervisor gave to other guests while this one wanted
            # the CPU: a share well above zero means a loaded host
            res["validity"]["steal_share"] = (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0])
        if args.workload == "query_mix":
            t = time.time()
            oracle_check(res)
            res["validity"]["oracle_s"] = time.time() - t
        results = os.path.join(WORK_ROOT, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{args.workload}-trace{args.trace}-seed{args.seed}-"
                               f"{int(started * 1000)}.json"), "w") as f:
            json.dump({k: v for k, v in res.items() if k != "oracle"}, f)
        report(res, args)
        if args.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["layers"].items())}
        else:
            metrics = {k: res["e2e"][k] for k in E2E}
        correct = res["failed"] == 0
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}), flush=True)
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
