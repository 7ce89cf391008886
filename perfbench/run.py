#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 25 --trace 0

Builds the benchmark package (the engine's sources plus perfbench/src)
with sbt when its sources changed, then runs the workload in one JVM on
local[<cores>] with a heap sized from /proc/meminfo. Prints every metric
by name with its unit, the correctness verdict, and as the last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. Every run's full result is kept under
perfbench/.runs/ (compare.py reads them); traced runs also keep their
spans there.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main"
BUILD = HERE / ".build"
RUNS = HERE / ".runs"
WORK = HERE / ".work"
WORKLOADS = ("etl_star", "dedup_chain")
# the workload's JVM must end within this; a build before it has its own
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# units of the workloads' own metrics (the end-to-end and per-layer
# units come from BENCHMARK.json)
NAMED_UNITS = {
    "ingest_rows_per_s": "rows/s", "freshness_p50_s": "s",
    "dim_refresh_p50_s": "s", "view_query_p50_s": "s",
    "point_p50_s": "s", "chain_docs_per_s": "docs/s",
    "chain_freshness_p50_s": "s", "verdict_read_p50_s": "s",
}


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def num(v):
    """A metric for printing; a workload whose operations all failed has
    no latency to report."""
    return "n/a" if v is None else f"{v:12.4f}"


def source_files():
    for base in (ENGINE, HERE / "src"):
        yield from sorted(p for p in base.rglob("*") if p.is_file())
    yield HERE / "build.sbt"
    yield HERE / "project" / "build.properties"


def source_sha():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree."""
    def git(*args):
        out = subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    try:
        top = git("rev-parse", "--show-toplevel")
        return git("rev-parse", "HEAD") if top == str(ROOT) else None
    except (OSError, subprocess.SubprocessError):
        return None


def build(sha):
    """The runtime classpath, compiling first if the sources changed."""
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == sha:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # a Spark distribution: bin/spark-submit next to jars/ (a pip
        # pyspark's spark-submit has no jars/ beside it)
        homes = [Path(d).parent for d in env.get("PATH", "").split(os.pathsep)
                 if (Path(d) / "spark-submit").is_file()
                 and (Path(d).parent / "jars").is_dir()]
        if not homes:
            raise SystemExit("no Spark found: set SPARK_HOME or put a "
                             "Spark distribution's bin on PATH")
        env["SPARK_HOME"] = str(homes[0])
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building the benchmark package with sbt ...")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.autostart=false", "compile",
                    "export Runtime/fullClasspath"],
                   HERE, BUILD / "build.log", time.time() + BUILD_LIMIT_S,
                   env=env)
    lines = (BUILD / "build.log").read_text().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (see {BUILD / 'build.log'})")
    cp = next(l for l in reversed(lines) if "classes" in l and ":" in l)
    cp_file.write_text(cp)
    stamp.write_text(sha)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_child(cmd, cwd, log_path, deadline, env=None):
    """Run `cmd` in a session of its own, its output to `log_path`; its
    exit code, or None when it passed `deadline` and was killed. The
    child's whole process group ends with it, and also when this
    process is terminated."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out,
                                stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)

        def kill():
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()

        def stop(*_):
            kill()
            raise SystemExit("interrupted")
        handlers = {s: signal.signal(s, stop)
                    for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            kill()
            return None
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)
            # nothing of the group may outlive the run
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def heap_mb():
    """A quarter of the host's memory, between 1 and 8 GiB."""
    total_kb = 4 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(1024, min(8192, total_kb // 4 // 1024))


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, a, run_id, deadline):
    work = WORK / run_id
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    heap = heap_mb()
    out, spans = RUNS / f"{run_id}.json", RUNS / f"{run_id}.spans.jsonl"
    cmd = (["java", f"-Xmx{heap}m", f"-Xms{min(heap, 1024)}m",
            "-XX:ReservedCodeCacheSize=256m"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work / "data"), "--out", str(out),
            "--spans", str(spans), "--corrupt", "1" if a.corrupt else "0"])
    try:
        rc = run_child(cmd, work, RUNS / f"{run_id}.log", deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not out.exists():
        tail = (RUNS / f"{run_id}.log").read_text().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        why = "timed out" if rc is None else f"exited {rc}"
        raise SystemExit(f"workload run {why} (log: {RUNS / run_id}.log)")
    return json.loads(out.read_text()), out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="drop one row of an engine answer before it is "
                        "checked; the run must then report failure")
    a = p.parse_args()
    if not (ENGINE / "scala" / "graft").is_dir():
        raise SystemExit(f"engine sources not found under {ENGINE}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    sha = source_sha()
    cp = build(sha)
    RUNS.mkdir(parents=True, exist_ok=True)
    run_id = (f"{a.workload}-s{a.seed}-t{a.trace}" +
              ("-corrupt" if a.corrupt else "") +
              time.strftime("-%Y%m%dT%H%M%S") + f"-{os.getpid()}")
    t0, ticks0 = time.time(), cpu_ticks()
    res, out = run_jvm(cp, a, run_id, t0 + RUN_LIMIT_S)
    ticks1 = cpu_ticks()
    # the share of CPU time the hypervisor gave to other guests: on a
    # shared host it slows whole runs, so it is kept to explain outliers
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    res.update(git_commit=git_commit(), source_sha256=sha,
               run_wall_s=time.time() - t0, run_id=run_id,
               host_steal_frac=steal)
    out.write_text(json.dumps(res, sort_keys=True) + "\n")

    log(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  "
        f"trace {a.trace}  cores {res['cores']}  heap {res['heap_mb']} MiB  "
        f"spark {res['spark_version']}  commit {res['git_commit'] or '-'}  "
        f"sources {sha[:12]}  host steal {steal:.1%}")
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for k, v in res["end_to_end"].items():
        log(f"  {k:<28} {num(v)} {e2e_units.get(k, '')}")
    for k, v in sorted(res["named"].items()):
        log(f"  {k:<28} {num(v)} {NAMED_UNITS.get(k, '')}")
    log(f"  {'failed_frac':<28} {res['failed_frac']:12.4f} "
        f"({res['failed']} of {res['attempted']} operations)")
    for e in res["errors"][:10]:
        log(f"  error: {e}")
    log(f"correct: {str(res['correct']).lower()}")

    if a.trace:
        metrics = per_layer_report(spec, res, a)
    else:
        metrics = {m["name"]: {"value": res["end_to_end"][m["name"]],
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def per_layer_report(spec, res, a):
    layer = res["per_layer"]
    for m in spec["per_layer"]:
        v = layer[m["name"]]
        if v:
            log(f"  {m['name']:<52} {v:12.4f} {m['unit']}")
    # tracing overhead: this run's end-to-end numbers against the
    # latest untraced run of the same workload, seed and run length
    plain = [r for r in (json.loads(p.read_text()) for p in
                         sorted(RUNS.glob(f"{a.workload}-s{a.seed}-t0-2*.json")))
             if r.get("seconds") == a.seconds]
    if plain:
        base = plain[-1]["end_to_end"]
        for k, v in res["end_to_end"].items():
            if base.get(k):
                log(f"  traced {k:<21} {v:10.4f} vs untraced "
                    f"{base[k]:10.4f} ({(v / base[k] - 1) * 100:+.1f}%)")
    else:
        log("  no untraced run of this workload, seed and run length to "
            "compare against for the tracing overhead")
    return {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer"]}


if __name__ == "__main__":
    main()
