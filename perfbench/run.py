#!/usr/bin/env python3
"""graft benchmark: runs one workload from a seed and prints its metrics.

Usage, from the repository root:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads and their fixed query subsets are in perfbench/workloads.json;
metric names are in BENCHMARK.json. The command builds the program and
the harness (perfbench/build.sh), starts the harness JVM, checks every
output, removes what the run left behind and prints, as the last line of
stdout, one JSON object: correct, attempted, failed and the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). The line before
it records the seed, core count, heap and sample counts; the harness's
full result and, when traced, its spans stay under .bench_out/.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # keep the benchmark's directory as checked in
import oracle  # noqa: E402  (perfbench/oracle.py, next to this file)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
HARNESS_TIMEOUT_S = 160
# the run that records the class-data-sharing archive exits that much later
RECORDING_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg, t0=time.monotonic()):
    print(f"perfbench: {time.monotonic() - t0:6.1f}s {msg}", file=sys.stderr, flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def testdata_dir(sf):
    """The scale factor's directory, as TESTDATA.md records it."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                m = re.match(r"\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", line)
                if m and os.path.isdir(m.group(1)):
                    return m.group(1).rstrip("/")
    except OSError:
        pass
    fail(f"no testdata directory for sf {sf} (TESTDATA.md)")


def materializations(tag):
    """The program's path-keyed materializations for a data directory."""
    tmp = tempfile.gettempdir()
    for d in os.listdir(tmp):
        if d.startswith("graft_") and os.path.isdir(os.path.join(tmp, d)):
            for e in os.listdir(os.path.join(tmp, d)):
                if e.startswith(tag + "-"):
                    yield os.path.join(tmp, d, e)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = json.load(f)["per_layer" if args.trace else "end_to_end"]
    with open(os.path.join(BENCH, "workloads.json")) as f:
        spec = json.load(f)
    wl = spec["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload}")

    build = subprocess.run(["bash", os.path.join(BENCH, "build.sh")],
                           stdout=sys.stderr, timeout=840)
    if build.returncode != 0:
        fail("build failed")
    log("built")
    out_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    with open(os.path.join(out_dir, "classpath")) as f:
        jars = f.read().strip()

    # Class-data sharing: the first run after a build records the classes
    # it loads into an archive as it exits; later runs map them from there
    # instead of loading them from the jars one by one.
    archive = os.path.join(out_dir, "classes.jsa")
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    work = os.path.join(ROOT, ".bench_run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = os.cpu_count()
    sf_dir = testdata_dir(spec["sf"])
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{spec['heap']}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false", cds,
        "-cp", f"{out_dir}/perfbench.jar:{jars}/*", "perfbench.Main", "--work", work,
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--setups", str(spec["setups"]), "--source", sf_dir,
        "--queries", ",".join(f"{q}={t}" for q, t in wl["queries"].items()),
        "--streaming", "1" if wl.get("streaming") else "0"]

    tag = re.sub(r"[^A-Za-z0-9.]", "_", os.path.join(work, "data"))
    try:
        jvm = subprocess.run(cmd, stdout=sys.stderr, timeout=HARNESS_TIMEOUT_S
                             if os.path.exists(archive) else RECORDING_TIMEOUT_S)
        if jvm.returncode != 0:
            fail(f"harness exited with {jvm.returncode}")
        log("harness done")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        wrong = dict(item.split(": ", 1) for item in res["check_failed"])
        found = oracle.check(os.path.join(work, "check"), list(wl["queries"]), sf_dir,
                             os.path.join(ROOT, ".bench_out", "oracle"), cores)
        wrong.update({q: why for q, why in found.items() if why and q not in wrong})
        log("outputs checked")
        keep = os.path.join(ROOT, ".bench_out",
                            f"{args.workload}-seed{args.seed}-trace{args.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        shutil.copy(os.path.join(work, "result.json"), keep)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for p in materializations(tag):
            shutil.rmtree(p, ignore_errors=True)

    for q, why in sorted(wrong.items()):
        print(f"perfbench: {q}: {why}", file=sys.stderr)
    checked = len(res["units"])
    attempted = res["attempted"] + checked
    failed = res["failed_execs"] + len(wrong)
    metrics = {m["name"]: res["metrics"][m["name"]] for m in names}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": res["cores"],
        "heap_max_mb": res["heap_max_mb"], "timed_executions": res["attempted"],
        "passes": res["passes"], "traced_passes": res["traced_passes"],
        "checked_outputs": checked, "failed_frac": failed / attempted,
        "setup_rounds_s": res["setup_rounds_s"], "cold_pass_s": res["cold_pass_s"]}))
    print(json.dumps({"correct": not wrong and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
