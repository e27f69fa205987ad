#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the repository and
the harness (sbt, offline) and caches the classpath under .bench_build/;
later runs start the JVM directly. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1), each as {"value": ..., "unit": ...}.
The line before it records host contention for the run. Everything the
run writes stays under .bench_build/perfbench/ in the checkout.

Test-only options: --scale tiny (sf0.001 fixtures, a few thousand
events, a handful of commits), --expected <tsv> (other expected row
counts), --inject drop_batch (skip one closed-loop micro-batch) and
--inject abort (throw inside the first closed-loop unit).
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSPATH = BUILD / "classpath.txt"
WORKLOADS = ("batch_ops", "streaming")
JVM_BUDGET_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_mtime():
    newest = 0.0
    for d in (ROOT / "src" / "main", HERE / "src", ROOT / "build.sbt",
              HERE / "build.sbt"):
        paths = [d] if d.is_file() else d.rglob("*")
        for p in paths:
            if p.is_file():
                newest = max(newest, p.stat().st_mtime)
    return newest


def build():
    """Compile with sbt unless the cached classpath is newer than every source."""
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= sources_mtime():
        return CLASSPATH.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.supershell=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=800)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        fail(f"build failed, see {log}")
    CLASSPATH.write_text(lines[-1].strip())
    return lines[-1].strip()


def cpu_times():
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        fields = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
        vals = [int(x) for x in fields[:8]]
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return 0, 0


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return [float("nan")] * 3


def worst(m):
    """The value an end-to-end metric the run did not measure reads as:
    the worst the JVM's time budget allows, so a failure can never make
    a figure look better."""
    if m["better"] == "higher":
        return 0.0
    return JVM_BUDGET_S * {"s": 1.0, "ms": 1e3}[m["unit"]]


def metric_specs():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--expected")
    ap.add_argument("--inject", choices=("none", "drop_batch", "abort"), default="none")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources beside the benchmark in {ROOT}")
    e2e_specs, layer_specs = metric_specs()

    cp = build()
    sf = "sf0.1" if a.scale == "full" else "sf0.001"
    fixtures = HERE / "fixtures" / sf
    expected = Path(a.expected) if a.expected else HERE / "expected" / f"{sf}.tsv"
    cores = os.cpu_count() or 1
    # Spark's task threads leave one core to the driver thread, the JIT
    # compiler, GC and the open-loop generator: with a task thread on every
    # core, a key's time depends on how the host schedules them
    cpus = max(1, cores - 1)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    out_dir = BUILD / "runs" / tag
    tmp = BUILD / "tmp" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)

    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xms1g", "-Xmx2g" if a.scale == "tiny" else "-Xmx4g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixtures", str(fixtures), "--expected", str(expected),
            "--tmp", str(tmp), "--out", str(out_dir), "--cpus", str(cpus),
            "--scale", a.scale, "--inject", a.inject]
    load_start = loadavg()
    steal0, total0 = cpu_times()
    launched = time.time()
    with open(out_dir / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_BUDGET_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{a.workload} did not finish within {JVM_BUDGET_S} s; see {out_dir / 'jvm.log'}")
    steal1, total1 = cpu_times()
    host = {
        "cores": cores, "spark_cpus": cpus,
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "steal_frac": (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0,
        "inputs": (f"fixed read-only fixtures {sf}; the seed is not used"
                   if a.workload == "batch_ops" else f"generated from seed {a.seed}"),
    }
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        fail(f"{a.workload} exited with {proc.returncode} and no result; see {out_dir / 'jvm.log'}")
    res = json.loads(lines[-1][len("PERFBENCH "):])

    failures = list(res["failures"])
    values = dict(res["e2e"])
    if res["first_timed_ms"] > 0:
        values["setup_s"] = res["first_timed_ms"] / 1000.0 - launched
    layer_values = dict(res["layers"])
    metrics = {}
    if a.trace == 0:
        for m in e2e_specs:
            v = values.get(m["name"])
            if v is None or not math.isfinite(v) or v <= 0:
                failures.append(f"end-to-end metric {m['name']} not measured")
                v = worst(m)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        for m in layer_specs:
            v = layer_values.get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v if v is not None and math.isfinite(v) else 0.0,
                                  "unit": m["unit"]}
    failed = len(failures)
    attempted = max(int(res["attempted"]), failed, 1)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": host, "failures": failures,
              "end_to_end": values, "layers": layer_values}
    (out_dir / "run.json").write_text(json.dumps(record, indent=1, sort_keys=True))
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"host": host, "failed_frac": failed / attempted,
                      "record": str(out_dir.relative_to(ROOT))}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
