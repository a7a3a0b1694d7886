#!/usr/bin/env python3
"""The repository benchmark: the hybrid engine under two named workloads.

    python3 perfbench/run.py --workload kg_ts_query --seed 1 --seconds 15 \
        --trace 0

Run it from the root of a checkout. It builds the engine and the harness
from source with the Scala compiler that ships in Spark's jars (cached in
`.bench_build/` by a digest of the sources) and runs one JVM over the
seed-42 test tables in `perfbench/data/`:

  set-up     process start, Spark session, unmeasured warm-up passes (the
             first writes each entry's output as parquet);
  measured   closed-loop passes with one client for --seconds: each pass
             runs every entry once, in an order drawn from --seed, and the
             next entry starts only after the previous one's output has been
             fully written to Spark's `noop` sink;
  check      each warm-up output is compared with the entry's DuckDB oracle
             SQL (outside every timed region).

The last line of standard output is one JSON object: `correct`,
`attempted` and `failed` (entry runs, where a failure is an exception or an
oracle mismatch) and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Lines before it print each metric with
its unit and sample count, and the cause of every failure. A full report
(per-entry medians, per-entry layer split, failures, environment) and the
trace spans go to `.bench_build/runs/`.

Exit status is non-zero, with no result line, when the program sources are
missing, the build fails, or the run exceeds its time limit.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["kg_ts_query", "curation_night"]
DATA = HERE / "data"  # the seed-42 test tables, one directory per scale
# fixed (-Xms = -Xmx): heap growth made passes drift; pre-touched, because
# how much of the heap the collector had touched made the peak resident set
# vary by a tenth from run to run
HEAP = "3g"
BUILD = ROOT / ".bench_build"
RUN_LIMIT_S = 160     # the benchmark process; the whole run stays < 180 s
BUILD_LIMIT_S = 800
# the JVM flags the root build file passes to forked Spark processes
JVM_FLAGS = [
    *[f for p in ["java.lang", "java.lang.invoke", "java.lang.reflect",
                  "java.io", "java.net", "java.nio", "java.util",
                  "java.util.concurrent", "java.util.concurrent.atomic",
                  "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                  "sun.util.calendar"]
      for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Duser.timezone=UTC", "-XX:-UsePerfData", "-Xss8m",
]


def spark_jars():
    """The jar directory the root build file compiles against
    (`unmanagedBase`), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "")
    if m:
        return Path(m.group(1))
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    die("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME "
        "is unset")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(what, cmd, log, limit_s, **kw):
    """Runs cmd in its own process group, output to log; kills the group
    and dies if it outlives limit_s."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{what} exceeded {limit_s:.0f} s; see {log}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


# ---------------------------------------------------------------- build
def build():
    """Compiles src/main/scala and the harness into a digest-named
    directory under .bench_build; returns it and the jar directory."""
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        die(f"program sources not found at {program}")
    jars = spark_jars()
    if not glob.glob(str(jars / "scala-compiler-*.jar")):
        die(f"no Scala compiler in {jars}")
    sources = sorted(program.rglob("*.scala")) + \
        sorted((HERE / "src").rglob("*.scala"))
    h = hashlib.sha256()
    for f in sources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / "OK").exists():
        return out, jars
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir()
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in sources) + "\n")
    t0 = time.time()
    rc = run_bounded(
        "build", ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out),
         f"@{argfile}"], BUILD / "build.log", BUILD_LIMIT_S)
    if rc != 0:
        die(f"build failed; see {BUILD / 'build.log'}")
    (out / "OK").write_text(f"{time.time() - t0:.1f} s\n")
    return out, jars


def commit():
    """The checkout's git commit, when it is a git repository."""
    if not (ROOT / ".git").exists():
        return None
    p = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return p.stdout.strip() or None


# ---------------------------------------------------------------- measure
def median(xs):
    return statistics.median(xs) if xs else float("nan")


def host_cpu():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return ticks[7], sum(ticks)


def end_to_end(res, launched):
    """The end-to-end metrics of one untraced run, with sample counts."""
    passes = [p for p in res["passes"] if not p["traced"]]
    samples = {}
    for p in passes:
        for name, ms in p["entry_ms"].items():
            samples.setdefault(name, []).append(ms)
    medians = [median(v) for v in samples.values()]
    return {
        "setup_s": (res["setup_end_epoch_s"] - launched, "s", 1),
        "pass_s": (median([p["wall_s"] for p in passes]), "s", len(passes)),
        "entry_geomean_ms": (math.exp(statistics.fmean(
            math.log(m) for m in medians)), "ms", len(medians)),
        "rss_peak_mb": (res["rss_peak_mb"], "MB", 1),
    }


def main():
    ap = argparse.ArgumentParser(
        description="Benchmark of the hybrid SPARQL + time-series engine.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default="0.01", choices=["0.01", "0.001"],
                    help="input scale factor (the smoke run uses 0.001)")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its temp directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, jars = build()
    data = str(DATA / f"sf{a.sf}")
    started = time.time()  # the time limit excludes a fresh build

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{uuid.uuid4().hex[:8]}"
    run_dir = BUILD / "runs" / run_id
    tmp = BUILD / "tmp" / run_id
    verify = run_dir / "outputs"
    for d in (run_dir, tmp, verify):
        d.mkdir(parents=True)
    out = run_dir / "result.json"
    spans = run_dir / "spans.jsonl"
    try:
        launched, cpu0 = time.time(), host_cpu()
        rc = run_bounded(
            "benchmark process",
            ["java", *JVM_FLAGS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
             "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
             "-cp", f"{classes}:{jars}/*", "perfbench.Main",
             "--workload", a.workload, "--data", data,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--out", str(out),
             "--verify-dir", str(verify), "--spans", str(spans)],
            run_dir / "jvm.log", RUN_LIMIT_S - (launched - started),
            cwd=str(tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    cpu1 = host_cpu()
    if rc != 0 or not out.exists():
        die(f"benchmark process failed (exit {rc}); see {run_dir / 'jvm.log'}")
    res = json.loads(out.read_text())

    oracle_sql = json.loads((verify / "oracle_sql.json").read_text())
    thrown = {f["entry"] for f in res["failures"]
              if f["phase"] == "warmup" and f["pass"] == -1}
    checked = oracle.check(data, str(verify), oracle_sql,
                           [n for n in res["entries"] if n not in thrown])
    mismatched = {n: why for n, why in checked.items() if why}
    attempted = res["warmup_runs"] + sum(len(p["order"])
                                         for p in res["passes"])
    failed = len(res["failures"]) + len(mismatched)

    # the share of CPU time the host gave to other guests during the run:
    # runs with a few percent of steal read up to a fifth slower
    steal = (round((cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 4)
             if cpu0 and cpu1 and cpu1[1] > cpu0[1] else None)
    env = dict(res["env"], commit=commit(), build=classes.name,
               host_steal_frac=steal)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "sf": a.sf, "env": env,
              "entries": res["entries"], "passes": res["passes"],
              "failures": res["failures"], "oracle_mismatches": mismatched}
    printed = {}
    if a.trace:
        report["layers"] = layers.analyse(spans, res, ROOT, a.workload, data)
        metrics = report["layers"]["metrics"]
        printed = report["layers"]["report_only"]
    else:
        metrics = end_to_end(res, launched)
        report["end_to_end"] = metrics
    (run_dir / "report.json").write_text(json.dumps(report, indent=1))
    shutil.rmtree(verify, ignore_errors=True)

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"passes {len(res['passes'])}  nproc {env['nproc']}  task slots "
          f"{env['task_slots']}  heap {env['heap_max_mb']} MB  "
          f"data {env['data_dir']}  commit {env['commit']}  {env['build']}  "
          f"host steal {steal}")
    for f in res["failures"]:
        print(f"FAILED {f['entry']} ({f['phase']} pass {f['pass']}): "
              f"{f['class']}: {f['message'][:200]}")
    for n, why in mismatched.items():
        print(f"FAILED {n} (oracle): {why}")
    for k, (v, u, n) in {**metrics, **printed}.items():
        print(f"{k:40s} {v:14.4f} {u:6s} n={n}")
    print(f"report {run_dir / 'report.json'}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
