"""The ETL benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload <backfill|steady> \\
        --seed <n> --seconds <s> --trace <0|1> [--tiny]

Run from the root of a checkout. Builds the program and the benchmark
from source (`perfbench/build.py`; the output goes to `$CARGO_TARGET_DIR`,
default `.bench_build`), generates the workload's inputs from `--seed`,
drives the program through one JVM on `local[<cores>]`, checks every
output against the generated source, and prints as its last stdout line
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics; `--trace 1` records spans, Spark jobs and filesystem
calls and reports the per-layer metrics and the tracing overhead.
Scratch data lives in `.bench_work/` and is removed at exit; traced
runs leave their report in `.bench_out/`.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import build  # noqa: E402

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def jvm(classes, args, work, timeout):
    """Run one benchmark JVM; its stdout and stderr go to our stderr."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # The heap starts small and -Xmx is only a ceiling, so the peak resident
    # set follows what the program touches. The serial collector grows the
    # heap from the live data left after each collection rather than from
    # pause times, and two malloc arenas keep native memory from following
    # thread timing; both keep the peak steady between runs. No hsperfdata
    # file in the system temp directory.
    cmd += ["-XX:+UseSerialGC", "-Xms64m", "-Xmx1g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: JVM timed out after %ds" % timeout)
    if code != 0:
        raise SystemExit("perfbench: JVM exited with %d" % code)


def timeout(seconds):
    """JVM deadline: start-up, set-up and the first load, plus the timed
    work, which grows with `--seconds` (170 s at the default 20)."""
    return 90 + 4 * seconds


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=analysis.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the benchmark's own tests")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "EtlMain.scala")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft/EtlMain.scala not found)")
    build_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = build.build(os.path.abspath(build_dir))

    work_base = os.path.join(root, ".bench_work")
    # the same path on every run, so that paths recorded in the program's
    # own files (and so their sizes) repeat at a given seed
    work = os.path.join(work_base, "%s-%d" % (a.workload, a.seed))
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = os.path.join(work, "result.json")
        jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--work", work, "--out", out] + (["--tiny"] if a.tiny else []),
            work, timeout(a.seconds))
        with open(out) as fh:
            res = json.load(fh)
        if a.trace:
            trace = analysis.load_trace(out + ".trace")
            metrics, shares = analysis.per_layer(res, trace)
            units = analysis.PER_LAYER
            report = {"workload": a.workload, "seed": a.seed, "per_layer": metrics,
                      "op_shares": shares, "latency": analysis.latency_summary(res)}
            out_dir = os.path.join(root, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, "%s-seed%d-trace.json"
                                   % (a.workload, a.seed)), "w") as fh:
                json.dump(report, fh, indent=1, sort_keys=True)
            print("op shares of wall time (spark jobs / driver fs calls / unattributed):",
                  file=sys.stderr)
            for kind, s in sorted(shares.items()):
                print("  %-12s n=%-3d wall=%9.1f ms  spark %5.1f%%  fs %5.1f%%  other %5.1f%%"
                      % (kind, s["ops"], s["wall_ms"], 100 * s["spark"], 100 * s["fs"],
                         100 * s["unattributed"]), file=sys.stderr)
        else:
            metrics = analysis.end_to_end(res)
            units = analysis.END_TO_END
            print("latency by operation (ms): " + json.dumps(analysis.latency_summary(res)),
                  file=sys.stderr)
        for f in res["failures"]:
            print("perfbench: check failed: " + f, file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_base) and not os.listdir(work_base):
            os.rmdir(work_base)

    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
