#!/usr/bin/env python3
"""Energy-lake benchmark for the graft engine.

Usage (from the repository root):
    python3 energybench/run.py --workload etl_backfill --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source into .bench_build/ (only
when a source changed), runs one workload in one JVM, prints a readable
report and, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 they
are the per-layer ones, taken from a traced replay of the same
operations (spans are written under .bench_build/).
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
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("etl_backfill", "lake_ops", "corpus_dedup")
# the JVM is killed past RUN_LIMIT_S so a run exits in time; a run that
# first builds may take BUILD_LIMIT_S more
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# Each workload's own names for its end-to-end figures, printed in the
# readable report: (name, unit, key of the figure in the JVM's result).
# BENCHMARK.json gates the workload-independent metrics they map onto.
REPORTED = {
    "etl_backfill": [("backfill_rows_per_s", "rows/s", "items_per_s"),
                     ("lake_bytes_per_row", "B", "lake_bytes_per_row")],
    "lake_ops": [("ops_per_s", "1/s", "items_per_s"),
                 ("read_p50_s", "s", "read_p50_s"),
                 ("read_tail_s", "s", "read_tail_s"),
                 ("upsert_p50_s", "s", "upsert_p50_s"),
                 ("lake_bytes_per_row", "B", "lake_bytes_per_row")],
    "corpus_dedup": [("docs_per_s", "docs/s", "items_per_s"),
                     ("dedup_recall", "share", "dedup_recall"),
                     ("dup_heavy.distinct_share", "share", "dup_heavy.distinct_share"),
                     ("dup_heavy.max_copies", "count", "dup_heavy.max_copies"),
                     ("low_mult.distinct_share", "share", "low_mult.distinct_share"),
                     ("low_mult.max_copies", "count", "low_mult.max_copies")],
}
COMMON = [("setup_s", "s", "setup_s"), ("failed_share", "share", "failed_share"),
          ("peak_rss_mb", "MB", "peak_rss_mb")]


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at " + ROOT)
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def fail(msg):
    print("energybench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of every file the build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_command(*tasks):
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + repos]
    return cmd + list(tasks)


def run_bounded(cmd, cwd, env, err, limit):
    """Run cmd in its own process group; kill the whole group past limit."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=err, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail("%s exceeded %d s" % (cmd[0], limit))
    return proc.returncode, stdout


def build():
    """Compile engine + harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found under " + ENGINE_SRC)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code, stdout = run_bounded(
            sbt_command("compile", "export Runtime/fullClasspath"), HERE, env,
            out, BUILD_LIMIT_S)
        out.write(stdout)
    lines = [l for l in stdout.splitlines()
             if "sbt-target" in l and not l.startswith("[")]
    if code != 0 or not lines:
        fail("build failed, see " + log)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields


def steal_share(before, after):
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def launch(args, classpath, run_dir, limit):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
              "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "energybench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(run_dir, "work"), "--out", result,
              "--t0", str(int(time.time() * 1000))])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        code, _ = run_bounded(cmd, ROOT, None, out, limit)
    if code != 0 or not os.path.isfile(result):
        fail("benchmark JVM failed (exit %s), see %s" % (code, log))
    with open(result, encoding="utf-8") as f:
        return json.load(f)


def e2e_metrics(r):
    return {
        "setup_s": r["setup_s"],
        "items_per_s": r["items_per_s"],
        "op_p50_s": r["op_p50_s"],
        "dedup_recall": r["dedup_recall"],
        "peak_rss_mb": r["peak_rss_mb"],
    }


def report(r, args, host):
    """Readable lines; each workload's own figure names are printed too."""
    print("workload %s seed %d trace %d: %d ops in %.2f s measured, %d failed"
          % (args.workload, args.seed, args.trace, r["attempted"],
             r["measured_s"], r["failed"]))
    for e in r["errors"]:
        print("  error: " + e)
    print("setup_s %.3f (jvm+session %.3f, prepare median of %s, warm-up %.3f)"
          % (r["setup_s"], r["setup_ready_s"],
             ["%.3f" % x for x in r["setup_prepare_s"]], r["setup_warmup_s"]))
    for k, v in sorted(r["by_kind"].items()):
        tail = ("p%.0f %.4f s" % (v["tail_pct"], v["tail_s"])
                if v["tail_s"] is not None else "no tail (n<11)")
        print("  op %-14s n=%-4d p50 %.4f s, %s" % (k, v["n"], v["p50_s"], tail))
    if r["op_tail_s"] is not None:
        print("op tail: p%.1f = %.4f s over %d ops (10 beyond)"
              % (r["op_tail_pct"], r["op_tail_s"], r["op_count"]))
    values = dict(e2e_metrics(r), failed_share=r["failed"] / max(r["attempted"], 1),
                  **r["extras"])
    for name, unit, key in REPORTED[args.workload] + COMMON:
        print("metric %s = %r %s" % (name, values.get(key), unit))
    print("host: cores %d, steal share %.4f, jvm gc %.3f s"
          % (host["cores"], host["steal_share"], r["gc_s"]))
    if args.trace:
        print("trace: overhead %+.4f s per op (%+.1f%% of untraced), median of"
              " %d op pairs, spans in %s"
              % (r["trace_overhead_s"], 100 * r["trace_overhead_share"],
                 r["trace_overhead_n"], os.path.relpath(r["spans_file"], ROOT)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    spec = load_spec()
    classpath = build()

    name = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    run_dir = os.path.join(BUILD, "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    before = cpu_times()
    limit = min(RUN_LIMIT_S, RUN_LIMIT_S + BUILD_LIMIT_S + 20 - (time.time() - t_start))
    r = launch(args, classpath, run_dir, limit)
    host = {"cores": len(os.sched_getaffinity(0)),
            "steal_share": steal_share(before, cpu_times())}
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    report(r, args, host)
    if args.trace:
        wanted, values = spec["per_layer"], r["per_layer"]
    else:
        wanted, values = spec["end_to_end"], e2e_metrics(r)
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
               for m in wanted}
    out = {"correct": r["failed"] == 0, "attempted": r["attempted"],
           "failed": r["failed"], "metrics": metrics}
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(dict(out, host=host, raw=r), f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
