"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark client from source with sbt (the build is reused while the
sources are unchanged). Inputs are generated from the seed under
perfbench/.work/, the JVM client measures for S seconds, and the outputs
are checked against answers computed without graft. The last line of
stdout is one JSON object: correct, attempted, failed, metrics. With
--trace 1 a second, traced pass on the same seed gives the per-layer
metrics. A correctness mismatch or a failed operation exits nonzero.
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

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
CORES = min(3, os.cpu_count() or 1)
RUN_BUDGET_S = 170  # everything after the build, both passes of --trace 1 included
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group and wait for it; on timeout
    or on our own termination the whole group is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL,
                         text=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        sys.exit(f"{os.path.basename(cmd[0])} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out, err


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for base in ("src/main", "project/build.properties", "build.sbt",
                 "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        p = os.path.join(ROOT, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build program + client with sbt when the sources changed; return
    the runtime classpath."""
    for need in ("build.sbt", "src/main"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"program sources not found: {need} (run from the repository root)")
    digest = source_digest()
    cp_file, stamp = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "digest")
    if os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no sbt server and no JVM perf files: temporary files stay in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        os.environ.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    log("building program and benchmark client with sbt ...")
    rc, out, _ = run_child(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                            "compile", "export Runtime/fullClasspath"], 840, cwd=HERE,
                           env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    lines = [line for line in out.splitlines() if line.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        log(out[-4000:])
        sys.exit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def run_jvm(cp, args, inp, work, seconds, traced, deadline):
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           *[a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "perfbench.Bench", "--workload", args.workload, "--in", inp,
           "--work", work, "--seed", str(args.seed), "--seconds", str(seconds),
           "--trace", "1" if traced else "0", "--cores", str(CORES), "--out", out]
    rc, _, err = run_child(cmd, max(1, deadline - time.monotonic()), cwd=work,
                           stdout=subprocess.DEVNULL,
                           stderr=subprocess.PIPE)
    if rc != 0:
        log(err[-4000:])
        sys.exit(f"benchmark client exited with {rc}")
    with open(out) as f:
        return json.load(f)


def input_sizes(workload, inp, expect):
    """Generated input (path under `inp`, as the client names it in a
    sample) -> (rows, bytes) it hands to the program."""
    if workload == "etl_roundtrip":
        return {"lineitem_csv": (expect["lineitem_rows"], expect["csv_bytes"]),
                "orders.parquet": (expect["orders_rows"], expect["orders_bytes"])}
    if workload == "neardup_ingest":
        return {f"arrivals/{a['path']}": (a["docs"], a["bytes"]) for a in expect["arrivals"]}
    rows = os.path.join(inp, "rows")
    return {f"rows/{f}": (pq.ParquetFile(os.path.join(rows, f)).metadata.num_rows,
                          os.path.getsize(os.path.join(rows, f)))
            for f in sorted(os.listdir(rows))}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops and reaps its children (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    cp = classpath()
    deadline = time.monotonic() + RUN_BUDGET_S
    base = os.path.join(WORK, f"{args.workload}-{args.seed}")
    shutil.rmtree(base, ignore_errors=True)
    inp = os.path.join(base, "in")
    expect = gen.generate(args.workload, args.seed, inp)
    sizes = input_sizes(args.workload, inp, expect)

    record = run_jvm(cp, args, inp, os.path.join(base, "run"), args.seconds, False, deadline)
    problems = check.check(args.workload, record, expect, inp)
    e2e, notes = metrics.end_to_end(record, sizes)
    if args.trace:
        traced = run_jvm(cp, args, inp, os.path.join(base, "traced"), args.seconds, True,
                         deadline)
        problems += check.check(args.workload, traced, expect, inp)
        export_rows = expect.get("unload", {}).get("rows", 0)
        out, units = metrics.per_layer(traced, record, sizes, export_rows), metrics.PER_LAYER
    else:
        out, units = e2e, metrics.END_TO_END
    samples = [s for s in record["samples"] if s["round"] >= 0]
    failed = sum(1 for s in samples if not s["ok"])
    for s in samples:
        if not s["ok"]:
            problems.append(f"{s['kind']} failed: {s['error']}")
    for name, value in e2e.items():
        log(f"{name:32s} {value:14.6g} {metrics.END_TO_END[name][0]:8s} "
            f"{json.dumps(notes[name])}")
    if args.trace:
        for name, value in out.items():
            log(f"{name:48s} {value:14.6g} {units[name][0]}")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    result = {"correct": not problems, "attempted": len(samples), "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in out.items()}}
    print(json.dumps(result))
    shutil.rmtree(base, ignore_errors=True)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
