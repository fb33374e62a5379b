#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, one JVM per run.

    python3 perfbench/run.py --workload short_sf01|heavy_x10|ingest_cycles \\
        --seed N --seconds S --trace 0|1 [--smoke] [--expected FILE] [--corrupt-partition]

Run from the root of a checkout. The first run builds the engine and the
benchmark (perfbench/build.py) and prepares the x10 corpus; both are
kept in the build directory ($CARGO_TARGET_DIR, default .bench_build).
Every run gets its own scratch directory there (java.io.tmpdir, Spark
local dir, warehouse, Derby home, ingest roots), removed afterwards.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1). The
line before it reports every metric NOTES.md names for the workload,
with unit and sample count, and names every failed query or dataset.
Exits non-zero when any output check fails. See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("short_sf01", "heavy_x10", "ingest_cycles")
# JVM flags Spark's launcher adds on JDK 17 (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"
YOUNG = "512m"
TIMEOUT_S = 170


def java(classes, args, work, log, timeout):
    # fixed heap and young generation: the peak RSS then follows the
    # workload's live data, not G1's adaptive sizing decisions
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:NewSize={YOUNG}", f"-XX:MaxNewSize={YOUNG}",
            "-Xss8m", "-XX:+UseG1GC"] + ADD_OPENS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby/derby.log", "-Duser.timezone=UTC",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", classes + os.pathsep + build.spark_classpath(), "graftbench.Main"] + args)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: JVM timed out after {timeout} s (log: {log})")
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {p.returncode}")
    return out


def prepare(classes, build_dir):
    """Build the x10 corpus once (outside every timed region) and check
    it against the recorded per-table row counts."""
    corpus = os.path.join(build_dir, "data", "x10")
    stamp = corpus + ".ok"
    if os.path.exists(stamp):
        return corpus
    tmp = corpus + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    work = os.path.join(build_dir, "prepare")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(work, d))
    out = java(classes, ["--mode", "prepare", "--base", os.path.join(HERE, "data", "sf0.01"),
                         "--corpus", tmp], work, os.path.join(work, "prepare.log"), 600)
    got = {}
    for line in out.splitlines():
        name, _, rest = line.partition(": ")
        if rest.endswith(" rows"):
            got[name] = int(rest[:-5])
    want = {}
    with open(os.path.join(HERE, "corpus_rows.tsv")) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                name, rows = line.split()
                want[name] = int(rows)
    if got != want:
        raise SystemExit(f"perfbench: x10 corpus row counts {got} differ from {want}")
    shutil.rmtree(corpus, ignore_errors=True)
    os.rename(tmp, corpus)
    shutil.rmtree(work, ignore_errors=True)
    open(stamp, "w").close()
    return corpus


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 data, 2 ingest cycles, one set-up")
    ap.add_argument("--expected", help="expected-digest file overriding the committed one")
    ap.add_argument("--corrupt-partition", action="store_true",
                    help="duplicate a published file before the ingest checks")
    a = ap.parse_args()

    build_dir = os.path.normpath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(build_dir)
    corpus = None if a.smoke or a.workload == "ingest_cycles" else prepare(classes, build_dir)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-smoke' if a.smoke else ''}"
    work = os.path.join(build_dir, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d))
    result_path = os.path.join(work, "result.json")
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--bench", HERE, "--base", os.path.join(HERE, "data", "sf0.01"),
            "--out", result_path]
    if corpus:
        args += ["--corpus", corpus]
    if a.smoke:
        args += ["--smoke", "1", "--smoke_data", os.path.join(HERE, "data", "sf0.001"),
                 "--setups", "1"]
    if a.expected:
        args += ["--expected", os.path.abspath(a.expected)]
    if a.corrupt_partition:
        args += ["--corrupt_partition", "1"]
    try:
        java(classes, args, work, os.path.join(work, "jvm.log"), TIMEOUT_S)
        with open(result_path) as f:
            res = json.load(f)
        records = os.path.join(build_dir, "records")
        os.makedirs(records, exist_ok=True)
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(traces, f"{tag}.jsonl"))
            res["tracing_overhead"] = overhead(res, records, a)
        with open(os.path.join(records, f"{tag}.json"), "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = res["metrics"]
    e2e = {
        "latency_p50_ms": (m["latency_p50_s"]["value"] * 1e3, "ms"),
        "latency_tail_ms": (m["latency_tail_s"]["value"] * 1e3, "ms"),
        "suite_s": (m["suite_s"]["value"], "s"),
        "setup_s": (m["setup_s"]["value"], "s"),
        "peak_rss_mb": (m["peak_rss_mb"]["value"], "MB"),
    }
    if a.trace:
        metrics = res["layers"]
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"workload": a.workload, "report": res["report"],
                      "failures": res["failures"],
                      "tracing_overhead": res.get("tracing_overhead"),
                      "record": f"records/{tag}.json"}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


def overhead(res, records, a):
    """Traced minus untraced value of each end-to-end metric, against the
    untraced run of the same workload and seed if one was recorded."""
    base = os.path.join(records, f"{a.workload}-s{a.seed}-t0{'-smoke' if a.smoke else ''}.json")
    if not os.path.exists(base):
        return None
    with open(base) as f:
        untraced = json.load(f)["metrics"]
    return {k: {"value": v["value"] - untraced[k]["value"], "unit": v["unit"]}
            for k, v in res["metrics"].items() if k in untraced}


if __name__ == "__main__":
    sys.exit(main())
