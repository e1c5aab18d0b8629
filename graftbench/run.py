#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 graftbench/run.py --workload firehose|query|ingest --seed N \
        --seconds S --trace 0|1
    python3 graftbench/run.py --smoke       # a few checked ops per workload
    python3 graftbench/run.py --selftest    # generator and model checks

Run from the root of a graft checkout. Builds graft and the benchmark's
Scala code (graftbench/build.py), starts one JVM that hosts graft, drives
the workload closed-loop, checks every answer against the generator's
reference model, and prints one JSON result as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Human-readable detail goes to the lines before it.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# the heap sizes itself below a 2 GB ceiling, so the RSS peak is graft's
# own; no perf-data file under the system temp directory, so a run writes
# only inside its checkout
JVM_FLAGS = ["-Xmx2g", "-XX:-UsePerfData"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def declared():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def source_commit(root):
    if (root / ".git").exists():
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return "none"


def jvm(root, classes, work, main_args):
    """Run graftbench.Main; return (exit code, stdout lines). Kills the
    JVM's process group on timeout and waits for it to end."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += JVM_FLAGS + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", f"{classes}:{build.spark_jars(root)}/*", "graftbench.Main"] + main_args
    log = open(work.parent / f"{work.name}.log", "w")
    p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"error: the benchmark JVM did not finish within {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 124, []
    finally:
        log.close()
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["firehose", "query", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (a.smoke or a.selftest or a.workload):
        ap.error("--workload is required")

    root = Path.cwd()
    try:
        classes, digest = build.build(root)
    except SystemExit as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    work = root / ".bench_build" / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.selftest or a.smoke:
            args = ["selftest"] if a.selftest else ["smoke", "--seed", str(a.seed), "--work", str(work)]
            code, lines = jvm(root, classes, work, args)
            print("\n".join(lines))
            return code
        commit = f"{source_commit(root)}+src:{digest}"
        out = root / ".bench_build" / "results"
        out.mkdir(parents=True, exist_ok=True)
        code, lines = jvm(root, classes, work, [
            "run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--results", str(out), "--commit", commit])
        results = [l for l in lines if l.startswith("GRAFTBENCH_RESULT ")]
        if code != 0 or not results:
            print(f"error: the benchmark JVM exited with {code} and no result "
                  f"(log: {work.parent / (work.name + '.log')})", file=sys.stderr)
            return 1
        raw = results[-1][len("GRAFTBENCH_RESULT "):]
        (out / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(raw + "\n")
        return report(a, json.loads(raw))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, r):
    e2e_units, layer_units = declared()
    units = layer_units if a.trace else e2e_units
    got = r["per_layer"] if a.trace else r["end_to_end"]
    missing = sorted(set(units) - set(got))
    undeclared = sorted(set(got) - set(units))
    bad = [k for k in got if not NAME_RE.match(k)]
    nonnum = sorted(k for k in units if k in got and not isinstance(got[k], (int, float)))
    if missing or undeclared or bad or nonnum:
        print(f"error: metric set mismatch: missing={missing} undeclared={undeclared} "
              f"malformed={bad} not-a-number={nonnum}", file=sys.stderr)
        return 1
    meta = r["meta"]
    print(f"# graftbench {r['workload']} seed={r['seed']} trace={a.trace} commit={meta['commit']}")
    print(f"# nproc={meta['nproc']} spark={meta['spark_master']} jvm={' '.join(meta['jvm_flags'])} "
          f"ops={meta['ops']} warmup={meta['warmup_ops']} setups={meta['setup_reps']}")
    print(f"# measured {meta['measured_s']:.1f} s, steal {meta['steal_s']:.2f} s, "
          f"cpu pressure {meta['cpu_pressure_s']:.2f} s, setups {meta['setup_s_each']}")
    for k, v in r["detail"].items():
        print(f"detail {k} {v:.4f}")
    for e in r["errors"]:
        print(f"failed: {e}")
    print("meta " + json.dumps(meta, sort_keys=True))
    if a.trace:
        for k, v in sorted(r.get("self_ms", {}).items()):
            print(f"self_ms {k} {v:.3f}")
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {k: {"value": got[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
