#!/usr/bin/env python3
"""graft layered benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles src/main/scala and
perfbench/src with the Scala compiler that ships among the Spark jars
into .bench_build/ (or $CARGO_TARGET_DIR); later runs reuse the classes
while the sources are unchanged. Every file the run writes stays under
that directory.

The benchmark JVM (perfbench.Main) runs the workload and writes its
record; this script checks the analytics answers against the
precomputed DuckDB oracle, writes the full record next to the JVM's,
prints every metric by name with its unit, and ends with one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("serve_ticks", "analytics", "ingest_scan", "retrieval")
# The JDK module openings Spark needs outside spark-submit; the same
# list build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A run must end within 180 s, or 900 s when it also builds.
RUN_LIMIT_S = 180
BUILD_RUN_LIMIT_S = 900


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jar directory build.sbt compiles against (its unmanagedBase),
    unless SPARK_HOME names another Spark install."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        fail("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no src/main/scala sources: run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main + bench


def java_cmd(jars, app, tmp):
    return (["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", app + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"])


def build(root, out, jars):
    """Compile once per source tree into one jar. The stamp is a hash of
    every source; returns (jar, whether it built)."""
    srcs = sources(root)
    res_dir = os.path.join(root, "src/main/resources")
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    app = os.path.join(out, "graft-perfbench.jar")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return app, False
    for f in (stamp_file, app):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    if os.path.isdir(res_dir):
        shutil.copytree(res_dir, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(app, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return app, True


def check_analytics(rec):
    """Each panel answer against its precomputed DuckDB-oracle digest."""
    import pandas as pd
    from oracle import digest
    want = json.load(open(os.path.join(HERE, "oracle", "analytics.json")))
    out = {}
    for q in rec["detail"]["panel"]:
        path = os.path.join(rec["detail"]["check_dir"], q)
        try:
            got = digest(pd.read_parquet(path))
            ok = got == want[q]
            err = None if ok else f"{q}: got {got['rows']} rows {got['sha256'][:12]}, " \
                                  f"want {want[q]['rows']} rows {want[q]['sha256'][:12]}"
        except Exception as e:  # a missing or unreadable answer is a wrong answer
            err = f"{q}: {e}"
        out[q] = err is None
        rec["attempted"] += 1
        if err:
            rec["failed"] += 1
            rec["failures"].append(err)
    rec["oracle_match"] = out


def check_accounted(rec, workload):
    """A traced run's layers must account for its requests' wall time:
    a share below the workload's floor in spec.json counts as a wrong
    answer."""
    floor = json.load(open(os.path.join(HERE, "spec.json")))["accounted_share_floor"][workload]
    share = rec["layer"]["trace.accounted_share"]["value"]
    rec["attempted"] += 1
    if share is None or share < floor:
        rec["failed"] += 1
        rec["failures"].append(f"trace.accounted_share {share} below the floor {floor}")


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    data = os.path.join(HERE, "data", "sf0.1")
    if not os.path.isdir(data):
        fail(f"missing benchmark tables under {os.path.relpath(data, root)}")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = spark_jars(root)
    os.makedirs(out, exist_ok=True)
    app, built = build(root, out, jars)

    tag = f"{a.workload}_s{a.seed}_t{a.trace}"
    work = os.path.join(out, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    jvm_out = os.path.join(results, tag + ".jvm.json")
    cmd = java_cmd(jars, app, tmp) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work, "--out", jvm_out,
        "--spans", os.path.join(results, tag + ".spans.json")]
    if os.path.exists(jvm_out):
        os.remove(jvm_out)
    t0 = time.time()
    # what is left of the run's limit, less a few seconds to report
    timeout = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (t0 - started) - 4
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM still running after {timeout:.0f} s")
    if p.returncode != 0 or not os.path.isfile(jvm_out):
        sys.stderr.write(p.stderr[-6000:])
        fail(f"benchmark JVM failed with exit code {p.returncode}")
    rec = json.load(open(jvm_out))
    rec["process_s"] = time.time() - t0
    rec["seed"] = a.seed
    rec["seconds"] = a.seconds
    rec["trace"] = a.trace
    if a.workload == "analytics":
        check_analytics(rec)
    if a.trace:
        check_accounted(rec, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    full = os.path.join(results, tag + ".json")
    with open(full, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)

    attempted, failed = rec["attempted"], rec["failed"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{attempted} answers checked, {failed} wrong")
    for e in rec["failures"][:10]:
        print(f"  wrong: {e}")
    print(f"error_rate: {failed / max(1, attempted):.6g} failed/attempted "
          f"({failed}/{attempted})")
    for k, m in rec["named"].items():
        note = f"  ({m['note']})" if m["note"] else ""
        print(f"{k}: {fmt(m['value'])} {m['unit']}{note}")
    for k, m in rec["e2e"].items():
        print(f"e2e {k}: {fmt(m['value'])} {m['unit']}")
    if a.trace:
        for k, m in rec["layer"].items():
            print(f"layer {k}: {fmt(m['value'])} {m['unit']}")
        print(f"trace self ms by layer: {json.dumps(rec['detail'].get('trace_self_ms', {}))}")
    print(f"record: {os.path.relpath(full, root)}")

    metrics = rec["layer"] if a.trace else rec["e2e"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }))


if __name__ == "__main__":
    main()
