#!/usr/bin/env python3
"""spark-graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload stream_covid --seed 1 --seconds 20 --trace 0

Workloads: stream_covid (open-loop window latency through
CovidStreamPipeline into ParquetUpsertSink), batch_queries (declared
query specs, fully materialised), store_builds (at-rest store builds
and checkpoint replays). See perfbench/README.md.

The first run in a checkout compiles the engine's sources together with
the harness (perfbench/build.sbt) and caches the classpath; later runs
launch the JVM directly. Each run prints a report (every metric by name
with its unit, the effective configuration, the ambient-load label) and,
as its last stdout line, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones.

    python3 perfbench/run.py --selftest

runs every workload at the tiny size (sf0.001, one-second rungs), traced
and untraced, and asserts that every metric prints with its unit, that
the traced wall splits close, and that a corrupted expectation makes
every correctness check fail.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_covid", "batch_specs")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
# A fixed heap, minimum equal to maximum: heap growth is driven by GC
# timing, so with a growing heap peak RSS and micro-batch times varied
# from run to run by up to a fifth. Peak RSS is then the heap plus the
# native memory (RocksDB state, network buffers, code); what the program
# keeps on the heap is reported apart, as the occupancy after GC. The
# repository's mains cap the heap at 8g; 2g keeps one run small.
HEAP = "2g"
# SPARK_GRAFT_* settings that may be present: core count and paths.
# Every other one changes what is timed, so the benchmark refuses it.
ALLOWED_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
               "SPARK_GRAFT_BENCH_OUT"}
# The module openings and JIT thresholds of the repository's own mains
# (build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JIT = ["-XX:Tier3InvocationThreshold=100", "-XX:Tier3BackEdgeThreshold=2000",
       "-XX:Tier4InvocationThreshold=1000", "-XX:Tier4BackEdgeThreshold=8000",
       "-XX:ReservedCodeCacheSize=512m"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_hash():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile engine + harness once per source state; cache the
    classpath under perfbench/target."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    stamp = os.path.join(HERE, "target", "perfbench-classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S,
            start_new_session=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 1)
    out = p.stdout.splitlines()
    cp = [l for l in out if "perfbench" in l and ".jar" in l and
          not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail("build failed", 1)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def check_env():
    bad = sorted(k for k in os.environ
                 if k.startswith("SPARK_GRAFT_") and k not in ALLOWED_ENV)
    if bad:
        fail("refusing to run under " + ", ".join(bad) + ": only "
             "SPARK_GRAFT_CPUS and path settings may be set, any other "
             "override changes what is timed")


def cores():
    v = os.environ.get("SPARK_GRAFT_CPUS", "4")
    if not v.isdigit() or int(v) < 1:
        fail(f"SPARK_GRAFT_CPUS={v!r} is not a core count")
    return int(v)


def run_jvm(cp, work, args, deadline, on_report):
    """Run the benchmark JVM; hand its report to `on_report` as soon as
    it is published (the JVM is then still stopping its session) and
    return what `on_report` returns."""
    log_path = os.path.join(work, "jvm.log")
    report_path = os.path.join(work, "report.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                      p + "=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={work}/tmp"] + JIT +
           ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = None
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            while p.poll() is None and time.time() < deadline:
                if out is None and os.path.exists(report_path):
                    out = on_report(report_path)
                time.sleep(0.1)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.exists(report_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise RuntimeError(f"benchmark JVM exited with {p.returncode}")
    return out if out is not None else on_report(report_path)


def oracle_check(report, work, data, corrupt, deadline):
    """DuckDB oracle compare of every dumped spec via tools/check.py.
    Returns the number of dumped specs that did not match."""
    names = report["dumped"]
    dump = os.path.join(work, "out", "dump")
    if corrupt:
        # Self-test: every expectation gains one duplicated row.
        path = os.path.join(dump, "oracle_sql.json")
        with open(path) as f:
            sql = json.load(f)
        sql = {k: f"SELECT * FROM ({v.rstrip().rstrip(';')}) UNION ALL "
                  f"(SELECT * FROM ({v.rstrip().rstrip(';')}) LIMIT 1)"
               for k, v in sql.items()}
        with open(path, "w") as f:
            json.dump(sql, f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools",
                                                     "check.py"),
                        data, dump] + names,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=max(5.0, deadline - time.time()))
    ok = {l.split()[1] for l in p.stdout.splitlines()
          if l.startswith("ok ")}
    bad = [n for n in names if n not in ok]
    for l in p.stdout.splitlines():
        if l.startswith("FAIL"):
            report["notes"].append(l)
    return len(bad)


def run_once(workload, seed, seconds, trace, tiny=False, corrupt=False):
    """One benchmark run; returns (report dict, result-line dict)."""
    check_env()
    cp = classpath()
    n_cores = cores()
    data = os.path.join(HERE, "data", "sf0.001" if tiny else "sf0.01")
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S
    def on_report(path):
        with open(path) as f:
            report = json.load(f)
        if report["dumped"]:
            c0 = time.time()
            report["failed"] += oracle_check(report, work, data, corrupt,
                                             deadline)
            report["metrics"]["check.oracle_s"] = {
                "value": time.time() - c0, "unit": "s"}
        return report

    try:
        report = run_jvm(cp, work, [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--data", data,
            "--warm-data", os.path.join(HERE, "data", "sf0.001"),
            "--tiny", "1" if tiny else "0",
            "--corrupt", "1" if corrupt else "0",
            "--t0", str(int(t0 * 1000)), "--cores", str(n_cores)],
            deadline, on_report)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spec = bench_spec()
    names = [m["name"] for m in
             (spec["per_layer"] if trace else spec["end_to_end"])]
    metrics = report["metrics"]
    missing = [n for n in names if metrics.get(n, {}).get("value") is None]
    if missing:
        raise RuntimeError("metrics not measured: " + ", ".join(missing))
    result = {
        "correct": report["failed"] == 0,
        "attempted": int(report["attempted"]),
        "failed": int(report["failed"]),
        "metrics": {n: {"value": metrics[n]["value"],
                        "unit": metrics[n]["unit"]} for n in names},
    }
    return report, result


def overhead_lines(workload, seed, trace, report):
    """Tracing overhead: this run's end-to-end figures against the last
    untraced run of the same workload and seed in this checkout."""
    keep = os.path.join(HERE, ".work", "untraced", f"{workload}-{seed}.json")
    e2e = [m["name"] for m in bench_spec()["end_to_end"]]
    mine = {n: report["metrics"][n]["value"] for n in e2e
            if n in report["metrics"]}
    if not trace:
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        with open(keep, "w") as f:
            json.dump(mine, f)
        return []
    if not os.path.exists(keep):
        return ["trace.overhead: no untraced run of this workload and "
                "seed in this checkout; run --trace 0 first"]
    with open(keep) as f:
        base = json.load(f)
    out = []
    for n in e2e:
        if n in base and n in mine and base[n]:
            out.append(f"trace.overhead.{n} {mine[n] - base[n]:+.4f} "
                       f"{report['metrics'][n]['unit']} "
                       f"({(mine[n] - base[n]) / base[n]:+.1%})")
    return out


def print_report(workload, seed, trace, report):
    print(f"# perfbench {workload} seed={seed} trace={int(trace)}")
    print("# config " + json.dumps(report["config"], sort_keys=True))
    att, bad = report["attempted"], report["failed"]
    print(f"error_rate {bad / att if att else float('nan'):.6f} ratio "
          f"({bad} of {att} operations failed)")
    for n, m in report["metrics"].items():
        print(f"{n} {m['value']} {m['unit']}")
    for line in overhead_lines(workload, seed, trace, report):
        print(line)
    for note in report["notes"][:20]:
        print("# note " + note)


def split_problems(w, ms):
    """The traced wall split: the parts close to the wall, none is
    negative (a part counted twice or outside the timed windows drives
    the remainder below 0), and the layers the split rests on were
    seen at all."""
    out = []
    tol = 0.002  # progress and listener times are whole milliseconds
    wall = ms["split.wall_s"]["value"]
    parts = {k: v["value"] for k, v in ms.items()
             if k.startswith("split.") and k not in
             ("split.wall_s", "split.idle_s")}
    if abs(sum(parts.values()) - wall) > 0.01 * wall + 1e-3:
        out.append(f"{w}: split sums to {sum(parts.values())} of wall {wall}")
    for k, v in parts.items():
        if v < -tol:
            out.append(f"{w}: {k} = {v} < 0")
    seen = {"stream_covid": "split.transform_s",
            "batch_specs": "split.exec_self_s"}[w]
    if not parts.get(seen, 0) > 0:
        out.append(f"{w}: {seen} is {parts.get(seen)}, layer not seen")
    if w == "stream_covid" and ms["split.idle_s"]["value"] < -tol:
        # Idle is wall minus the triggers' summed execution time.
        out.append(f"{w}: triggers ran {-ms['split.idle_s']['value']} s "
                   "longer than the wall")
    return out


def selftest():
    spec = bench_spec()
    problems = []
    for w in WORKLOADS:
        for trace in (False, True):
            try:
                report, result = run_once(w, 7, 4, trace, tiny=True)
            except RuntimeError as e:
                problems.append(f"{w} trace={trace}: {e}")
                continue
            want = spec["per_layer"] if trace else spec["end_to_end"]
            for m in want:
                got = result["metrics"].get(m["name"])
                if not got or got["unit"] != m["unit"]:
                    problems.append(f"{w}: {m['name']} missing or unit "
                                    f"{got and got['unit']} != {m['unit']}")
            if not result["correct"]:
                problems.append(f"{w} trace={trace}: check failed: "
                                f"{report['notes'][:3]}")
            if trace:
                problems += split_problems(w, report["metrics"])
        _, bad = run_once(w, 7, 4, False, tiny=True, corrupt=True)
        if bad["failed"] != bad["attempted"] and w != "stream_covid":
            problems.append(f"{w}: corrupted oracle failed "
                            f"{bad['failed']} of {bad['attempted']}")
        # One window with a changed expected row, another with a
        # duplicated sink row: both must fail, and nothing else.
        if w == "stream_covid" and bad["failed"] != 2:
            problems.append(f"{w}: corrupted windows not caught "
                            f"({bad['failed']} of 2 failed)")
        print(f"selftest {w}: done", file=sys.stderr)
    for p in problems:
        print("selftest FAIL " + p)
    print("selftest " + ("ok" if not problems else "FAILED"))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        ap.error("--workload is required")
    try:
        report, result = run_once(a.workload, a.seed, a.seconds,
                                  bool(a.trace))
    except RuntimeError as e:
        fail(str(e), 1)
    print_report(a.workload, a.seed, bool(a.trace), report)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
