#!/usr/bin/env python3
"""Run the repo benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1|both>

Builds the engine and the runner from source when they changed (sbt,
into .bench_build/), runs each workload in its own JVM on
local[<cores>] with one closed-loop client, checks every op's output,
and prints one row per workload with the seed, the op count and every
metric by name and unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} for a single run, or
{"runs": [...]} when several ran. `--trace both` runs each workload
untraced and traced and adds a row with the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import aggregate  # noqa: E402

BUILD = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Module flags Spark needs on JDK 17 outside spark-submit: a copy of
# `jdk17AddOpens` in the root build.sbt, which is the list to follow.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


# Per-workload JVM flags. dialogue_stream runs with the C1 compiler only:
# under C2 a batch's CPU time kept falling for the first ~40 batches while
# the compiler threads took half a core, so a run measured how far the JIT
# had got; under C1 batch times are flat after the warm-up and within a
# few percent of C2's plateau, since per-batch overhead, not hot loops,
# dominates. It also sees half the cores (so local[n/2] and n/2 shuffle,
# hence state, partitions): a batch holds 2k rows, too few to share out,
# and with a task per core a batch waited for whichever core the host's
# other tenants slowed; on 2 of 4 cores batches were faster and repeated
# within 7% across runs, against 15% on all 4. lake_commits keeps the
# defaults: every run replays the same deck, so its JIT trend repeats,
# and under C1 its copy-on-write MERGE and aggregate read ran 20-45%
# slower, which a run's time budget cannot carry.
CORES = len(os.sched_getaffinity(0))
JVM_FLAGS = {"dialogue_stream": ["-XX:TieredStopAtLevel=1",
                                 f"-XX:ActiveProcessorCount={max(1, CORES // 2)}"]}


class BenchError(Exception):
    pass


def source_stamp():
    """Hash of every input of the build: engine and runner sources and
    build definitions."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile when the sources changed; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BenchError(f"no engine sources under {ROOT} (build.sbt, src/main/scala/graft)")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.override.build.repos=true"
    print("[perfbench] building engine and runner (sbt)", file=sys.stderr, flush=True)
    proc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, env, BUILD_TIMEOUT_S,
                       BUILD / "build.log")
    lines = (BUILD / "build.log").read_text().splitlines()
    if proc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise BenchError(f"build failed (exit {proc})")
    cps = [l.strip() for l in lines if l.strip().startswith(str(HERE / "target"))]
    if not cps:
        raise BenchError("build printed no classpath")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def run_bounded(cmd, cwd, env, timeout, log):
    """Run `cmd` in its own process group with output to `log`; on
    timeout kill the whole group and wait for it."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout} s (log: {log})")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def run_once(cp, workload, seed, seconds, trace, scale, corrupt=False):
    """One JVM run of one workload; returns the raw record."""
    work = BUILD / "work" / f"{workload}-{seed}-{int(trace)}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # -XX:+AlwaysPreTouch: the heap's page faults happen at JVM start,
    # not in the first timed ops that reach fresh heap regions.
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           *JVM_FLAGS.get(workload, []), f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dperfbench.corrupt={int(corrupt)}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           workload, str(seed), str(seconds), "1" if trace else "0", str(work), str(out), str(scale)]
    try:
        code = run_bounded(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, work / "jvm.log")
        log = (work / "jvm.log").read_text(errors="replace").splitlines()
        sys.stderr.write("".join(l + "\n" for l in log if l.startswith("[perfbench]")))
        if code != 0 or not out.is_file():
            sys.stderr.write("\n".join(log[-30:]) + "\n")
            raise BenchError(f"{workload} run failed (exit {code})")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def row(workload, seed, res):
    cells = [f"{k}={v['value']:.6g} {v['unit']}" for k, v in res["metrics"].items()]
    return (f"{workload:16s} seed={seed} ops={res['attempted']} failed={res['failed']} | "
            + " | ".join(cells))


def main(argv=None):
    # a TERM ends the run like an interrupt, so run_bounded kills and
    # reaps the JVM's process group instead of leaving it behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", choices=["0", "1", "both"], default="0")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; below 1 only for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt the output once; for the benchmark's own tests")
    args = ap.parse_args(argv)
    try:
        spec_path = ROOT / "BENCHMARK.json"
        if not spec_path.is_file():
            raise BenchError(f"missing {spec_path}")
        spec = json.loads(spec_path.read_text())
        names = [w["name"] for w in spec["workloads"]]
        workloads = names if args.workload == "all" else [args.workload]
        for w in workloads:
            if w not in names:
                raise BenchError(f"unknown workload {w}; known: {', '.join(names)}")
        seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
        cp = build()
        traces = {"0": [False], "1": [True], "both": [False, True]}[args.trace]
        results = []
        for w in workloads:
            raws = {}
            for t in traces:
                raw = run_once(cp, w, args.seed, seconds, t, args.scale, args.corrupt)
                raws[t] = raw
                res = aggregate.result(raw, spec)
                for o in raw["ops"]:
                    if o["error"] is not None:
                        print(f"[perfbench] {w} failed {o['kind']}: {o['error']}", file=sys.stderr)
                print(row(w + (" traced" if t else ""), args.seed, res), flush=True)
                results.append({"workload": w, "traced": t, **res})
            if len(raws) == 2:
                plain, traced = (aggregate.end_to_end(raws[False]), aggregate.end_to_end(raws[True]))
                cells = [f"{m['name']}={traced[m['name']] - plain[m['name']]:+.4g} {m['unit']}"
                         f" ({(traced[m['name']] / plain[m['name']] - 1) * 100:+.1f}%)"
                         for m in spec["end_to_end"] if plain.get(m["name"])]
                print(f"{w + ' overhead':16s} traced minus untraced | " + " | ".join(cells), flush=True)
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 2
    if len(results) == 1:
        r = results[0]
        print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))
    else:
        print(json.dumps({"runs": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
