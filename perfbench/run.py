#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {store,index} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds graft's sources in
the checkout together with the harness in perfbench/ (sbt, offline) into
.bench_build/; later runs reuse that build while the sources are unchanged.
Each run starts one JVM with Spark in local[N] mode (N = cores, at most 4),
builds the workload's starting state several times (the median is
setup_s), warms up, then measures for --seconds and at least one whole
cycle of ops. With --trace 1 the first half of the measured time runs
untraced and the second half traced, and the per-layer metrics come from
the traced half.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics named in BENCHMARK.json (end_to_end with --trace 0, per_layer
with --trace 1). The full result, with per-op tables, per-layer detail,
provenance and (traced runs) the recorded spans, is written to
.bench_build/results/.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("store", "index")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [ROOT / "src" / "main", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in dirs:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the build of these exact sources exists."""
    digest = source_digest()
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), digest
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        # keep sbt's own state inside the checkout too
        f"-Dsbt.global.base={BUILD / 'sbt-global'}"])
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    (BUILD / "build.log").write_text(proc.stdout)
    lines = [l for l in proc.stdout.splitlines()
             if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode}); log in {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1], digest


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, tag):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xmx2g", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", classpath, "graftbench.Main", *args,
           "--work", str(BUILD / "work" / tag),
           "--spans", str(BUILD / "results" / f"{tag}.spans.jsonl")]
    (BUILD / "results").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    for line in out.splitlines():
        if line.startswith("GRAFTBENCH_RESULT "):
            return json.loads(line[len("GRAFTBENCH_RESULT "):])
    fail(f"the JVM exited {proc.returncode} without a result")


def fmt(v):
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def report(res):
    """Human-readable tables; the machine-readable line follows them."""
    print(f"workload {res['workload']}  seed {res['seed']}  cpus {res['cpus']}  "
          f"loadavg {res['loadavg']}  cpu steal {res['cpu_steal_share']:.2f}  "
          f"commit {res['provenance']['git_commit']}")
    print(f"setup samples (s): {[round(x, 3) for x in res['setup_samples_s']]}")
    # tail: the highest quantile with ten samples beyond it (needs n >= 20)
    print(f"{'op':14} {'n':>5} {'failed':>6} {'p50_ms':>9} {'p90_ms':>9} "
          f"{'tail_q':>7} {'tail_ms':>9} {'mean_ms':>9} {'max_ms':>9}")
    for op, s in res["ops"].items():
        print(f"{op:14} {s['n']:>5} {s['failed']:>6} {fmt(s['p50_ms']):>9} "
              f"{fmt(s['p90_ms']):>9} {fmt(s['tail_q']):>7} {fmt(s['tail_ms']):>9} "
              f"{fmt(s['mean_ms']):>9} {fmt(s['max_ms']):>9}")
    for k, v in res["end_to_end"].items():
        print(f"  {k} = {fmt(v)}")
    layers = res.get("layers") or {}
    for op, l in (layers.get("ops") or {}).items():
        print(f"\ntraced {op}: n={l['n']} wall {fmt(l['wall_ms'])} ms, "
              f"jobs {fmt(l['jobs'])}, tasks {fmt(l['tasks'])}, "
              f"jobs_ms {fmt(l['jobs_ms'])}, outside_jobs_ms {fmt(l['outside_jobs_ms'])}, "
              f"analysis/optimization/planning ms {fmt(l['analysis_ms'])}/"
              f"{fmt(l['optimization_ms'])}/{fmt(l['planning_ms'])}, "
              f"codegen compiles {fmt(l['codegen_compiles'])}")
        print("  self time per layer (ms per op; sums to wall):")
        for name, ms in sorted(l["self_ms"].items(), key=lambda kv: -kv[1]):
            print(f"    {name:48} {ms:9.3f}")
        print(f"    {'(sum)':48} {sum(l['self_ms'].values()):9.3f}")
        print("  tasks: " + ", ".join(f"{k} {fmt(v)}" for k, v in l["task"].items()))
    if layers.get("workload"):
        print("\nworkload detail: " + json.dumps(layers["workload"], sort_keys=True))
    if layers.get("metrics"):
        print("per-layer: " + ", ".join(f"{k} {fmt(v)}" for k, v in layers["metrics"].items()))
        print(f"jobs without the op property: {layers['spark.jobs_unattributed']} "
              f"of {layers['jobs_seen']}")
    if res["failures"]:
        print("\n!!! OUTPUT CHECKS FAILED — this run's results are wrong !!!")
        for f in res["failures"]:
            print("  " + f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft sources not found under {ROOT / 'src'}; run from a checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classpath, digest = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    res = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace)], tag)
    res["provenance"] = {"git_commit": git_commit(), "source_sha256": digest}
    (BUILD / "results" / f"{tag}.json").write_text(json.dumps(res, indent=1))
    report(res)

    if a.trace:
        values = (res.get("layers") or {}).get("metrics") or {}
        wanted = spec["per_layer"]
    else:
        values = res["end_to_end"]
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)):
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if res["failed"]:
        print(f"perfbench: {res['failed']} of {res['attempted']} ops FAILED their "
              "output checks", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
