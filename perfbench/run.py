#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload lakehouse_dml --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark's JVM
client from source (into .bench_build/, reused while the sources are
unchanged), generates the workload's inputs from the seed, runs the
client for --seconds on Spark local[nproc], checks the results against
DuckDB, and prints one JSON line: the end-to-end metrics (--trace 0) or
the per-layer metrics of a traced run (--trace 1). The run's full record
goes to .bench_build/artifacts/. See perfbench/README.md.
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
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

BUILD = Path(".bench_build")
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "SPARK_HOME-is-not-set")) / "jars"
JVM_TIMEOUT_S = 170
SETUP_REPS = 3
# Per-workload input sizes. "tiny" is for the benchmark's own smoke test.
SIZES = {
    "lakehouse_dml": {
        "full": {"table_rows": 20000, "batch_rows": 2000, "cycles": 20, "bad_share": 0.03,
                 "reads_per_kind": 12},
        "tiny": {"table_rows": 2000, "batch_rows": 200, "cycles": 20, "bad_share": 0.03,
                 "reads_per_kind": 2}},
    "curation_batch": {
        "full": {"sf": 0.005, "docs": 1000, "near_dup_share": 0.05, "embeddings": 500},
        "tiny": {"sf": 0.001, "docs": 100, "near_dup_share": 0.05, "embeddings": 100}},
}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build(root):
    """Compile src/main/scala and perfbench/jvm with the Scala compiler
    that ships in Spark's jars. Skipped while the sources are unchanged."""
    srcs = sorted((root / "src/main/scala").rglob("*.scala")) + sorted((HERE / "jvm").glob("*.scala"))
    res_root = root / "src/main/resources"
    res = sorted(p for p in res_root.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = BUILD / "classes", BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{SPARK_JARS}/*"
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{argfile}"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    for p in res:
        dst = tmp / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def jvms_alive():
    n = 0
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/comm") as f:
                n += f.read().strip() == "java"
        except OSError:
            pass
    return n


def contention():
    """What else was running: a busy machine's reading says so itself."""
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_1m": os.getloadavg()[0],
            "other_jvms": jvms_alive()}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def du(path):
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def rewrite_once_bytes(paths, out):
    """Bytes of the given parquet datasets' rows written once, as one
    parquet file each: the 'user bytes' denominator."""
    total = 0
    for i, p in enumerate(paths):
        f = out / f"once{i}.parquet"
        pq.write_table(ds.dataset(p, format="parquet").to_table(), f)
        total += f.stat().st_size
    return total


def wall(o):
    return (o["end_ms"] - o["start_ms"]) / 1000.0


def end_to_end(res, rows_of, setup_s, inputs_per_iteration, bytes_ratio):
    ops = [o for o in res["ops"] if o["phase"] == "timed" and o["ok"]]
    writes = [wall(o) for o in ops if o["kind"] == "write"]
    reads = [wall(o) for o in ops if o["kind"] == "read"]
    write_rows = sum(rows_of(o) for o in ops if o["kind"] == "write")
    return {
        "setup_s": (setup_s, "s"),
        "write_p50_s": (median(writes), "s"),
        "write_p90_s": (p90(writes), "s"),
        "read_p50_s": (median(reads), "s"),
        "read_p90_s": (p90(reads), "s"),
        "rows_per_s": (write_rows / sum(writes) if writes else 0.0, "1/s"),
        "queries_per_s": (len(ops) / res["timed_s"], "1/s"),
        "docs_per_s": (inputs_per_iteration * res["timed_iterations"] / res["timed_s"], "1/s"),
        "bytes_per_user_byte": (bytes_ratio, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }


def verify(workload, res, data, check_dir, corrupt):
    """The correctness check. Returns (failures, rows an op changed
    (lakehouse_dml) or consumed (curation_batch), stored bytes per user
    byte)."""
    if workload == "lakehouse_dml":
        script = json.loads((data / "script.json").read_text())
        bad, changed = check.lakehouse(res, str(data), script, str(check_dir), corrupt)
        ratio = du(res["export"]["table_dir"]) / rewrite_once_bytes([check_dir / "final_table"], check_dir)
        return bad, lambda o: changed.get(o["id"], 0), ratio
    outputs = res["export"]["outputs"]
    bad = check.entries(res, str(data), next(iter(outputs)) if corrupt else None)
    written = [Path(p) for p in outputs.values() if not p.startswith(str(check_dir))]
    ratio = sum(du(p) for p in written) / max(rewrite_once_bytes(written, check_dir), 1)
    # an entry's output size depends on the seed (a dedup entry emits the
    # pairs it finds); the rows it consumes do not
    return bad, lambda o: o["info"].get("input_rows", 0), ratio


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM and the build are stopped
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--size", default="full", choices=["full", "tiny"],
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one result before the check (tests the check)")
    a = ap.parse_args()
    root = Path.cwd()
    if not (root / "src/main/scala/graft").is_dir():
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    if not SPARK_JARS.is_dir():
        fail(f"Spark jars not found at {SPARK_JARS}")
    started = contention()
    classes = build(root)

    run_dir = (BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}").resolve()
    shutil.rmtree(run_dir, ignore_errors=True)
    data = run_dir / "data"
    size = SIZES[a.workload][a.size]
    t0 = time.time()
    if a.workload == "lakehouse_dml":
        gen.lakehouse_script(str(data), a.seed, **size)
        inputs_per_iteration = size["batch_rows"]
    else:
        gen.star_schema(str(data), a.seed, **size)
        inputs_per_iteration = size["docs"]
    gen_s = time.time() - t0

    cfg = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": bool(a.trace), "cores": len(os.sched_getaffinity(0)),
           "data": str(data), "work": str(run_dir), "setup_reps": SETUP_REPS}
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "config.json").write_text(json.dumps(cfg))
    # a fixed, pre-touched heap: peak RSS then measures the heap size plus
    # native memory, not how far the collector happened to grow the heap
    # -XX:-UsePerfData: the JVM writes nothing outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", f"{classes.resolve()}:{SPARK_JARS}/*", "perfbench.Main",
           str(run_dir / "config.json")]
    spawn = time.time()
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # also on SIGTERM / Ctrl-C: the JVM never outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    jvm_s = time.time() - spawn
    jvm_log = (run_dir / "jvm.log").read_text(errors="replace")
    for line in jvm_log.splitlines():
        if line.startswith("[perfbench] FAILED"):
            print(line, file=sys.stderr)
    if proc.returncode != 0 or not (run_dir / "result.json").is_file():
        fail(f"JVM exited with {proc.returncode}:\n" + jvm_log[-4000:])
    res = json.loads((run_dir / "result.json").read_text())
    ended = contention()

    # correctness, outside the timed region
    check_dir = run_dir / "check"
    checked = time.time()
    bad, rows_of, bytes_ratio = verify(a.workload, res, data, check_dir, a.corrupt)
    check_s = time.time() - checked
    for b in bad:
        print(f"perfbench: CHECK FAILED {a.workload}: {b}", file=sys.stderr)

    ready_s = res["ready_ms"] / 1000.0 - spawn
    setup_s = gen_s + ready_s + median(res["setup_s"]) + res["warmup_s"]
    measured = [o for o in res["ops"] if o["phase"] in ("timed", "traced")]
    failed = [o for o in measured if not o["ok"]]
    if a.trace:
        metrics = layers.per_layer(res, rows_of)
    else:
        metrics = end_to_end(res, rows_of, setup_s, inputs_per_iteration, bytes_ratio)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "size": a.size, "contention": {"start": started, "end": ended},
        "correct": not bad, "check_failures": bad,
        "attempted": len(measured), "failed": len(failed),
        "error_rate": len(failed) / max(len(measured), 1),
        "failures": [{"workload": a.workload, "op": o["name"], "exception": o["error"]}
                     for o in failed],
        "setup": {"gen_s": gen_s, "jvm_ready_s": ready_s, "create_s": res["setup_s"],
                  "warmup_s": res["warmup_s"]},
        "jvm_s": jvm_s, "check_s": check_s,
        "samples": {k: sum(1 for o in res["ops"] if o["phase"] == "timed" and o["ok"] and o["kind"] == k)
                    for k in ("read", "write")},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    (BUILD / "artifacts").mkdir(parents=True, exist_ok=True)
    (BUILD / "artifacts" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(artifact, indent=1))
    # keep the JVM's record and log; drop the inputs and tables
    for p in run_dir.iterdir():
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": len(measured), "failed": len(failed),
                      "metrics": artifact["metrics"]}))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
