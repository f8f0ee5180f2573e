#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. Builds graft and the benchmark
from source (cached under $CARGO_TARGET_DIR, default .bench_build), runs
one workload in a fresh JVM, prints every metric with its unit, and
prints the result object as the last line of standard output. With
--trace 1 the run also records spans and per-layer numbers, and states
the tracing overhead against an untraced run of the same seed if one was
made in this checkout. Exits non-zero, without a result line, if
anything fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("dashboard", "curate")
JVM_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = pathlib.Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala/graft not found)")
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    graft_cls, bench_cls = build.build(root, out / "build")
    jars = build.spark_jars(root)

    work = out / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    reports = out / "reports" / bench_cls.name  # runs of one build compare
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    log = out / "logs" / f"{a.workload}-{a.seed}-t{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{bench_cls}:{graft_cls}:{jars}/*", "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(work), "--reports", str(reports),
              "--out", str(result_file)])
    # a SIGTERM to the runner still stops the JVM (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    p = None
    try:
        with open(log, "wb") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, start_new_session=True)
            try:
                stdout, _ = p.communicate(timeout=JVM_LIMIT_S)
            except subprocess.TimeoutExpired:
                sys.exit(f"perfbench: JVM exceeded {JVM_LIMIT_S} s; log in {log}")
        if p.returncode != 0 or not result_file.exists():
            sys.stderr.write(log.read_text(errors="replace")[-4000:])
            sys.exit(f"perfbench: JVM exited {p.returncode}; log in {log}")
        sys.stdout.write(stdout.decode())
        result = json.loads(result_file.read_text())
    finally:
        if p is not None and p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(work, ignore_errors=True)

    if a.trace == "1":
        overhead(reports, a.workload, a.seed)
    print(json.dumps(result))


def overhead(reports, workload, seed):
    """Tracing overhead: traced minus untraced end-to-end numbers, same seed."""
    plain = reports / f"{workload}-{seed}-plain.json"
    traced = reports / f"{workload}-{seed}-traced.json"
    if not plain.exists():
        print(f"overhead: no untraced run of seed {seed} in this checkout to compare with")
        return
    a, b = json.loads(plain.read_text())["named"], json.loads(traced.read_text())["named"]
    rows = {}
    for k in sorted(set(a) & set(b)):
        if a[k]:
            rows[k] = {"plain": a[k], "traced": b[k], "delta": b[k] - a[k],
                       "delta_share": (b[k] - a[k]) / a[k]}
            print(f"overhead {k:<22} plain {a[k]:>12.4f} traced {b[k]:>12.4f} "
                  f"({100 * (b[k] - a[k]) / a[k]:+.1f}%)")
    (reports / f"{workload}-{seed}-overhead.json").write_text(json.dumps(rows, indent=1))


if __name__ == "__main__":
    main()
