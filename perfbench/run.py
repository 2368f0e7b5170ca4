#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness on first use (perfbench/build.py), then runs the
harness in one JVM with Spark in local mode. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones, from a separate traced run. The exit code is non-zero when any query or
micro-batch failed or returned a wrong result.

Other modes (not used for timing):
    --selfcheck          run the harness self-checks
    --record-expected    re-record perfbench/expected.tsv from this checkout
    --count-gap          time count() against a full noop write per query
See perfbench/README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--selfcheck", action="store_true")
    mode.add_argument("--record-expected", action="store_true")
    mode.add_argument("--count-gap", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.selfcheck):
        ap.error("--workload is required")

    classes, data, jars = build.build()
    out = build.out_dir()
    tmp = os.path.join(out, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    jvm = ["java", "-Xms3g", "-Xmx3g",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if a.selfcheck:
        args = ["perfbench.SelfCheck", data, tmp]
    else:
        mode = ("record" if a.record_expected else
                "countgap" if a.count_gap else "run")
        args = ["perfbench.Bench", mode, a.workload, str(a.seed), str(a.seconds),
                str(a.trace), data, os.path.join(here, "expected.tsv"),
                os.path.join(out, "out"), tmp]
    proc = subprocess.Popen(jvm + ["-cp", cp] + args, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run: harness did not finish within {TIMEOUT_S} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if lines:
        print("\n".join(lines), flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
