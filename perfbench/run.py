#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The first run builds graft and the harness
with sbt (offline) and caches the classpath under perfbench/.build; later
runs reuse it until a source file changes.  Each run then

  1. generates the workload's inputs from the seed (gen.py),
  2. runs the workload in a fresh JVM (graft.perfbench.Main): set-up is
     JVM start to a ready session, then a cold first iteration, then a
     fixed number of warm iterations per workload, sized so that on a
     4-core host they take longer than --seconds (a shorter warm phase is
     reported on stderr),
  3. checks every committed output against the generator's spec
     (check.py), and
  4. prints the metrics as one JSON line, the last line of stdout.

With --trace 0 the metrics are the end-to-end ones in BENCHMARK.json; with
--trace 1 they are the per-layer ones from the traced run.  A summary with
units, the host and the seed goes to stderr.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

RUN_TIMEOUT_S = 150

# what spark-submit would add on JDK 17 (the root build's javaOptions)
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dio.netty.tryReflectionSetAccessible=true",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xms3g", "-Xmx3g",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def _sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n"
                 .encode())
    return h.hexdigest()


def classpath():
    """The harness classpath, building first if sources changed."""
    stamp = _sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as fc:
            cp = fc.read().strip()
            if fh.read().strip() == stamp and all(
                    os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    log("perfbench: building graft and the harness with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        fail("sbt build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


# ---- run -------------------------------------------------------------------

def java(cp, work, args):
    """Run the harness main in a fresh JVM; Spark's temporary files stay in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", cp, "graft.perfbench.Main"] + args)
    p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, stdin=subprocess.DEVNULL,
                       text=True, timeout=RUN_TIMEOUT_S)
    if p.returncode != 0:
        log(p.stdout[-2000:], p.stderr[-6000:])
        fail(f"harness JVM exited {p.returncode}")


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def meminfo_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(spec, res, warm):
    """End-to-end metrics from the plain warm iterations."""
    wl = spec["workload"]

    def rows(it):
        if wl == "el_csv_bulk":
            return spec["rows"]
        if wl == "el_repl_incremental":
            return spec["snapshots"][it["k"]]["delta_rows"]
        return spec["docs"]

    def input_bytes(it):
        if wl == "el_repl_incremental":
            return spec["snapshots"][it["k"]]["delta_bytes"]
        return spec["input_bytes"]

    return {
        "setup_s": (res["setup_s"], "s"),
        "first_s": (res["iterations"][0]["wall_ms"] / 1000, "s"),
        "rows_per_s": (median([rows(i) / (i["wall_ms"] / 1000) for i in warm]),
                       "rows/s"),
        "cpu_s": (median([i["cpu_ms"] / 1000 for i in warm]), "s"),
        "write_amp": (median([i["written_bytes"] / input_bytes(i)
                              for i in warm]), "ratio"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }


def per_layer(names, res):
    """Per-layer metrics: medians over the warm traced iterations (the cold
    one when no warm iteration was traced)."""
    its = res["iterations"]
    traced = [i for i in its if i["traced"] and i["k"] > 0] or \
        [i for i in its if i["traced"]]
    plain = [i["wall_ms"] for i in its if not i["traced"] and i["k"] > 0]
    out = {}
    for n in names:
        if n == "bench.trace_overhead_ratio":
            v = (median([i["wall_ms"] for i in traced]) / median(plain)
                 if plain else float("nan"))
        elif n == "bench.coverage_min":
            v = min(1 - i["layer"].get("bench.uncovered_ms", 0) / i["wall_ms"]
                    for i in its if i["traced"])
        else:
            v = median([i["layer"].get(n, 0.0) for i in traced])
        out[n] = v
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to the benchmark: run it from a checkout "
             "of the repository", 2)

    sys.path.insert(0, HERE)
    import check
    import gen

    cp = classpath()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load0 = loadavg()
    try:
        spec = gen.generate(a.workload, a.seed, os.path.join(work, "in"))
        out = os.path.join(work, "out")
        java(cp, work, ["--workload", a.workload,
                        "--input", os.path.join(work, "in"), "--out", out,
                        "--trace", str(a.trace)])
        with open(os.path.join(out, "result.json")) as fh:
            res = json.load(fh)
        its = res["iterations"]
        errs = check.check(a.workload, spec, work,
                           [i for i in its if i["error"] is None])
        errs = iter(errs)
        failures = [i["error"] or next(errs) for i in its]
    finally:
        load1 = loadavg()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for f in failures if f)
    for i, f in zip(its, failures):
        if f:
            log(f"perfbench: iteration {i['k']} failed: {f}")
    warm = [i for i in its if i["k"] > 0 and not i["traced"]] or its[:1]
    e2e = end_to_end(spec, res, warm)
    host = {k: res[k] for k in ("nproc", "master", "shuffle_partitions",
                                "spark_version", "java_version",
                                "max_heap_mb")}
    host.update(mem_total_mb=meminfo_mb(), loadavg_start=load0,
                loadavg_end=load1, seed=a.seed, workload=a.workload,
                iterations=len(its),
                warm_wall_ms=[round(i["wall_ms"], 1) for i in warm])
    log("perfbench: " + json.dumps(host))
    warm_s = sum(i["wall_ms"] for i in its if i["k"] > 0) / 1000
    if warm_s < a.seconds:
        log(f"perfbench: warm iterations took {warm_s:.1f} s, "
            f"less than --seconds {a.seconds:g}")
    for k, (v, unit) in e2e.items():
        log(f"perfbench: {k:>14} {v:14.4f} {unit}")
    log(f"perfbench: {'fail_ratio':>14} {failed / len(its):14.4f} ratio"
        f" ({failed} of {len(its)} iterations)")

    if a.trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        layer = per_layer(names, res)
        metrics = {n: {"value": layer[n], "unit": units[n]} for n in names}
        for n in names:
            log(f"perfbench: {n:>40} {layer[n]:14.4f} {units[n]}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    # a failed run can leave a median without samples; keep the line JSON
    for m in metrics.values():
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    print(json.dumps({"correct": failed == 0, "attempted": len(its),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
