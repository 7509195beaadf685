#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload {catalog,live} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the program from
source together with the benchmark harness (sbt, in perfbench/); later
runs reuse the build while the sources are unchanged. Inputs are made
from the seed, the workload runs for S measured seconds in one JVM, its
outputs are checked, and the last line of stdout is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The full record of the run (every metric, the layer split, failures with
their causes, host and JVM settings, effective Spark conf) is written
to .perfbench/artifacts/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

from paths import HERE, ROOT, STATE

T0 = time.time()
# A run must end within 180 s, or 900 s when it builds first; the JVM
# gets what is left after the build, less a margin for checking.
BUILD_BUDGET_S = 780
RUN_LIMIT_S, BUILD_RUN_LIMIT_S, MARGIN_S = 175, 880, 20


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def program_present():
    return os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala"))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


CHILDREN = set()


def stop_children(signum, _frame):
    """On SIGTERM/SIGINT: kill the child process groups (sbt, the JVM),
    then exit through the `finally` that deletes the work dir."""
    for pid in list(CHILDREN):
        try:
            os.killpg(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    sys.exit(128 + signum)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group if it
    outlives `timeout` seconds. Returns (code, stdout, stderr)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         start_new_session=True, **kw)
    CHILDREN.add(p.pid)
    try:
        out, err = p.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        return None, out.decode(errors="replace"), err.decode(errors="replace")
    finally:
        CHILDREN.discard(p.pid)
    return p.returncode, out.decode(errors="replace"), err.decode(errors="replace")


def build(home):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(STATE, "build.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest, False
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    code, out, err = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.server.forcestart=false", "compile"],
                               BUILD_BUDGET_S, cwd=HERE, env=env)
    if code != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        die("build failed" if code is not None else "build timed out")
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest, True


def heap():
    """Half of MemTotal, between 2 and 8 GB (the Tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm_flags(workdir):
    """scripts/run_main.sh's flags, plus a run-private java.io.tmpdir."""
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g",
                    f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
                    # no hsperfdata file outside the checkout
                    "-XX:-UsePerfData"]


def finite(x):
    """JSON-safe copy: non-finite numbers (a latency that never ended)
    become null."""
    if isinstance(x, float) and not math.isfinite(x):
        return None
    if isinstance(x, dict):
        return {k: finite(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [finite(v) for v in x]
    return x


def cpu_ticks():
    """(steal, total) jiffies of the host as /proc/stat counts them."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["catalog", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not program_present():
        die("the program's sources (src/main/scala/graft) are not in this checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    home = spark_home()
    classes, digest, rebuilt = build(home)
    built = time.time()
    deadline = T0 + (BUILD_RUN_LIMIT_S if rebuilt else RUN_LIMIT_S)

    import stats
    import summarize
    nproc = os.cpu_count() or 1
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    workdir = os.path.join(STATE, f"run-{os.getpid()}-{int(T0)}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    try:
        data_dir = os.path.join(workdir, "data")
        out_dir = os.path.join(workdir, "out")
        os.makedirs(out_dir)
        if args.workload == "catalog":
            import datagen
            datagen.generate(data_dir, args.seed)
        else:
            os.makedirs(data_dir)
        flags = jvm_flags(workdir)
        cp = os.pathsep.join([classes, os.path.join(home, "jars", "*")])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=os.path.join(workdir, "local"))
        cmd = ["java", *flags, "-cp", cp, "graftbench.Main", args.workload, str(args.seed),
               str(args.seconds), str(args.trace), data_dir, out_dir, workdir]
        steal0, total0 = cpu_ticks()
        code, out, err = run_group(cmd, deadline - time.time() - MARGIN_S, cwd=workdir, env=env)
        steal1, total1 = cpu_ticks()
        raw_path = os.path.join(out_dir, "raw.json")
        if code != 0 or not os.path.exists(raw_path):
            sys.stderr.write(err[-6000:])
            die(f"{args.workload} run failed (exit {code})")
        with open(raw_path) as f:
            raw = json.load(f)

        failures = list(raw["failures"])
        result = {"nproc": nproc}
        e2e, layer, split, named, detail, attempted = summarize.summarize(raw, result)
        failed = stats.failed_ops(failures, max(1, attempted))
        if args.workload == "catalog":
            import oracle
            bad = oracle.check(raw["result_dir"], data_dir, raw["oracle_sql"],
                               os.path.join(STATE, "oracle"))
            execs = raw["execs"]
            for name, reason in sorted(bad.items()):
                failures.append({"op": f"catalog:{name}", "cause": "oracle mismatch: " + reason})
            # Every execution of a query that failed in any way counts.
            bad_names = {f["op"].split(":", 1)[1] for f in failures if f["op"].startswith("catalog:")}
            failed = sum(1 for x in execs if x[1] in bad_names or not x[7])
        e2e, layer, named = finite(e2e), finite(layer), finite(named)
        missing = [k for k, v in e2e.items() if v is None]
        if missing:
            failures.append({"op": "metrics", "cause": f"not measurable: {missing}"})

        metrics = summarize.END_TO_END if args.trace == 0 else summarize.PER_LAYER
        values = e2e if args.trace == 0 else layer
        attempted = int(max(1, attempted))
        if failures and not failed:
            failed = 1
        line = {
            "correct": not failures,
            "attempted": attempted,
            "failed": int(min(failed, attempted)),
            "metrics": {k: {"value": values[k] if values.get(k) is not None else 0.0,
                            "unit": u} for k, u in metrics.items()},
        }
        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "git_commit": git_commit(), "source_digest": digest,
            "nproc": nproc,
            "loadavg_at_start": load,
            # CPU time the hypervisor gave to other guests while the JVM ran:
            # a share of a few percent already shifts short runs.
            "host_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "jvm_flags": raw["jvm_flags"],
            "spark_version": raw["spark_version"], "spark_conf": raw["spark_conf"],
            "build_s": built - T0, "wall_s": time.time() - T0,
            "ops": line["attempted"], "ops_failed": line["failed"],
            "error_rate": line["failed"] / line["attempted"],
            "end_to_end": e2e, "named": named, "per_layer": layer, "split": split,
            "detail": detail,
            "setups": raw.get("setups") or {k: raw[k]["setups"] for k in ("stream", "serve")},
            "failures": failures[:500],
            "failures_total": len(failures),
        }
        artifact["log"] = [l for l in err.splitlines() if l.startswith("[graftbench")]
        if args.trace:
            artifact["spans"] = raw.get("spans", [])
        art_dir = os.path.join(STATE, "artifacts")
        os.makedirs(art_dir, exist_ok=True)
        with open(os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(finite(artifact), f)
        # Every end-to-end figure of the workload, with its sample count,
        # precedes the result line.
        print(json.dumps({"workload": args.workload, "ops": artifact["ops"],
                          "ops_failed": artifact["ops_failed"],
                          "error_rate": artifact["error_rate"], "end_to_end": named}))
        print(json.dumps(line))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    main()
