#!/usr/bin/env python3
"""graft's benchmark: one workload, one process, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
program and the benchmark (perfbench/build.py), generates the inputs and
computes the DuckDB oracle hashes; later runs reuse all three from
`.bench_build/`. Each run then starts one JVM on `local[<nproc>]` that sets
the session up, runs the workload for `--seconds`, and checks every
output. Workloads and metrics are declared in BENCHMARK.json;
`--trace 1` reports the per-layer metrics instead of the end-to-end ones.

Prints a human-readable table, then as the last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`.
"""
import argparse
import fcntl
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import land  # noqa: E402
import metrics  # noqa: E402

# a fixed heap size: heap resizing would make peak RSS vary run to run
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xss8m", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 160


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not metrics.valid_name(m["name"]):
            fail(f"invalid metric name {m['name']!r} in BENCHMARK.json")
    return spec


class Jvm:
    """Runs one JVM in its own process group and always reaps it."""

    def __init__(self, classes, args, env, log_path, timeout):
        self.cmd = [build.java()] + JVM_OPTS + [
            f"-Djava.io.tmpdir={env['PERFBENCH_TMP']}",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main"] + args
        self.env, self.log_path, self.timeout = env, log_path, timeout

    def run(self):
        with open(self.log_path, "w") as log:
            p = subprocess.Popen(self.cmd, env=self.env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=self.timeout)
            except BaseException:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise
        if rc != 0:
            with open(self.log_path) as f:
                lines = f.read().splitlines()
            causes = [ln for ln in lines if "Exception" in ln or "Error" in ln][:8]
            raise RuntimeError(f"JVM exited {rc}:\n" + "\n".join(causes + lines[-20:]))


def jvm_env(work):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["PERFBENCH_TMP"] = os.path.join(work, "tmp")
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(env["PERFBENCH_TMP"], exist_ok=True)
    return env


def prepare_data(root, out, classes, stamp):
    """Inputs and oracle hashes, once per build of the checkout."""
    import oracle
    data = os.path.join(out, f"data-{stamp}")
    ready = os.path.join(data, "READY")
    with open(os.path.join(out, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(ready):
            return data
        for stale in glob.glob(os.path.join(out, "data-*")):
            shutil.rmtree(stale, ignore_errors=True)
        os.makedirs(data)
        work = os.path.join(out, "prep-work")
        shutil.rmtree(work, ignore_errors=True)
        try:
            Jvm(classes, ["prep", data], jvm_env(work), os.path.join(out, "prep.log"), 600).run()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        with open(os.path.join(data, "oracle_sql.json")) as f:
            sql = json.load(f)
        hashes = oracle.oracle_hashes(root, os.path.join(data, "expanded"), sql)
        with open(os.path.join(data, "oracle_hashes.json"), "w") as f:
            json.dump(hashes, f, indent=1)
        open(ready, "w").close()
    return data


def check_oracle(root, data, result):
    import oracle
    with open(os.path.join(data, "oracle_hashes.json")) as f:
        expected = json.load(f)
    ok = {}
    for c in result["checks"]:
        if "dump" in c:
            got = oracle.dump_hash(root, c["dump"])
            ok[c["step"]] = got == expected.get(c["oracle"])
            if not ok[c["step"]]:
                print(f"perfbench: {c['step']} output does not match its DuckDB oracle",
                      file=sys.stderr)
    return ok


def fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def report(spec, args, result, e2e, layer, attempted, failed):
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  "
          f"trace {args.trace}")
    if args.trace == 0:
        n = e2e["_samples"]
        for m in spec["end_to_end"]:
            name = m["name"]
            count = n.get(name, n["increment"] if name.startswith("increment") else n["run_s"])
            how = ("peak over the run" if name == "peak_rss_mb" else
                   "after a full collection at the end" if name == "heap_retained_mb" else
                   "once, JVM start to first timed step" if name == "setup_s" else
                   f"median of n={count}")
            print(f"  {name:<22} {fmt(e2e[name]):>12} {m['unit']:<6} {how}")
        for label, t in (("run_s", e2e["_tails"]["run_s"]),
                         ("increment", e2e["_tails"]["increment"])):
            print(f"  {label + ' tail':<22} " + (f"p{t[0]} = {t[1]:.4f} s" if t else
                  "n/a (fewer than 10 samples beyond the median)"))
        print(f"  {'schedule_lag_s':<22} {e2e['_schedule_lag_s']:>12.4f} s      median")
    else:
        for m in spec["per_layer"]:
            print(f"  {m['name']:<28} {fmt(layer[m['name']]):>16} {m['unit']}")
    print(f"  {'failed_ops_ratio':<22} {failed / attempted:>12.4f}        "
          f"{failed} of {attempted} ops")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    try:
        spec = load_spec(root)
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}", 2)
    if not 1 <= args.seconds <= 120:
        fail("--seconds must be within 1..120", 2)

    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    work = os.path.join(out, "runs", f"{os.getpid()}-{time.time_ns()}")
    phases = [time.time()]
    try:
        classes, stamp = build.build(root, out)
        data = prepare_data(root, out, classes, stamp)
        phases.append(time.time())
        land.land(os.path.join(data, "expanded"), os.path.join(work, "inputs"),
                  land.TABLES[args.workload], args.seed)
        result_path = os.path.join(work, "result.json")
        Jvm(classes, ["run", args.workload, str(args.seed), str(args.seconds), str(args.trace),
                      work, result_path],
            jvm_env(work), os.path.join(work, "jvm.log"), RUN_TIMEOUT_S).run()
        phases.append(time.time())
        with open(result_path) as f:
            result = json.load(f)
        oracle_ok = check_oracle(root, data, result)
        phases.append(time.time())
    except (build.BuildError, RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        fail(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for it in [{"index": "warm-up", "steps": result["warm_up"]}] + result["iterations"]:
        for st in it["steps"]:
            if not st["ok"]:
                print(f"perfbench: iteration {it['index']} {st['name']} failed: {st['error']}",
                      file=sys.stderr)
    for c in result["checks"]:
        if c.get("ok") is False:
            print(f"perfbench: check {c['step']} failed: {c.get('detail')}", file=sys.stderr)
    attempted, failed = metrics.count_ops(result, oracle_ok)
    e2e = {} if args.trace else metrics.end_to_end(result)
    layer = metrics.layers(result) if args.trace else {}
    report(spec, args, result, e2e, layer, attempted, failed)
    print(f"  wall: build+inputs {phases[1] - phases[0]:.1f} s, JVM {phases[2] - phases[1]:.1f} s "
          f"(timed loop {result['loop_s']:.1f} s), oracle check {phases[3] - phases[2]:.1f} s")
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in chosen}}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
