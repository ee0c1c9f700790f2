"""graft benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: grd_ingest, slc_archive_plan, cube_serve, curation_mix
(`--workload all` runs the four in turn). Run from the root of a checkout;
the first run compiles (see build.py). Everything a run writes goes under
.bench_build/ and the run's scratch directory is removed when it ends;
span dumps of traced runs stay in .bench_build/traces/.

The report goes to stdout; its last line is the result object
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only
when every output check passed. `--record` rewrites the curation
fingerprints in perfbench/expected/curation.json instead of checking them.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True  # no __pycache__ next to build.py
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ["grd_ingest", "slc_archive_plan", "cube_serve", "curation_mix"]
RUN_TIMEOUT_S = 170


def run_one(args, workload):
    build.build()
    work = build.OUT / "run" / ("%s-%d-%d" % (workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = build.java_cmd(work, "-XX:SharedArchiveFile=" + str(build.ARCHIVE), [
        "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace)] + (["--record"] if args.record else []))
    env = build.java_env(work)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=str(work), text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: %s exceeded %d s" % (workload, RUN_TIMEOUT_S), file=sys.stderr)
        return 1, None
    finally:
        # also on SIGTERM (see main): never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stdout.write(out)
        print("perfbench: %s printed no result (exit %d)" % (workload, proc.returncode), file=sys.stderr)
        return proc.returncode or 1, None
    return proc.returncode, (lines[:-1], result)


def main():
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        print("perfbench: run from a graft checkout (no src/main/scala/graft under %s)" % ROOT,
              file=sys.stderr)
        return 2
    names = WORKLOADS if args.workload == "all" else [args.workload]
    code, results = 0, []
    for name in names:
        rc, res = run_one(args, name)
        code = code or rc
        if res is None:
            return code
        report, result = res
        print("\n".join(report), flush=True)
        results.append(result)
    if len(results) == 1:
        print(json.dumps(results[0]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {"%s.%s" % (n, k): v for n, r in zip(names, results)
                        for k, v in r["metrics"].items()},
        }))
    return code


if __name__ == "__main__":
    sys.exit(main())
