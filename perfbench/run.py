#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload {crawl,llm_prep} --seed N --seconds S --trace {0,1}

Builds the program and the harness from source (perfbench/build.py), then
runs one workload in a fresh JVM: one client, one process, local[4]. The
last line of standard output is the result,
{"correct", "attempted", "failed", "metrics"}; the lines before it record
the run's provenance (cores, heap, JDK, seed, AQE initial partitions,
spark.local.dir, per-unit times) and the host's CPU steal share. With --trace 1 the metrics are the
per-layer ones, and the span tree is written to
.bench_build/traces/<workload>-seed<N>.jsonl.

Workloads (see BENCHMARK.json for why each exists):
  crawl     ProcedurePipeline.run over seeded batches fetched from an
            in-process loopback site.
  llm_prep  a cold data-curation job over the sf0.01 corpus in
            perfbench/data, each query's result checked against
            perfbench/expected/digests.json.

Every file a run writes lands under .bench_build/ in the checkout; each run
gets its own empty work directory (artifact store, Spark scratch, warehouse),
removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # the checkout holds sources only
import build  # noqa: E402

WORKLOADS = ("crawl", "llm_prep")
HEAP = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def metric_names(trace):
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--record", action="store_true",
                    help="re-record perfbench/expected/digests.json from the current program; "
                         "the results are kept as parquet in .bench_build/record for "
                         "tools/compare_oracle.py")
    args = ap.parse_args()
    if args.record:
        args.workload, args.seed, args.seconds, args.trace = "record", 0, 1, 0
    elif None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    expected = os.path.join(BENCH, "expected", "digests.json")
    data = os.path.join(BENCH, "data")
    if not ((args.record or os.path.isfile(expected)) and os.path.isdir(os.path.join(data, "sf0.01"))):
        print("perfbench: benchmark inputs missing under perfbench/", file=sys.stderr)
        return 2

    out_root = os.path.join(REPO, ".bench_build")
    work = (os.path.join(out_root, "record") if args.record else
            os.path.join(out_root, "work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(out_root, "traces", f"{args.workload}-seed{args.seed}.jsonl")

    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    # shuffle and DISK_ONLY scratch stay inside the checkout
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    cmd = [build.java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dsun.net.httpserver.nodelay=true",
            f"-Dgraft.artifacts.dir={os.path.join(work, 'artifacts')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--expected", expected,
            "--work", work, "--trace-out", trace_out]
    log_path = os.path.join(work, "jvm.log")
    ticks0 = cpu_ticks()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = None
    ticks1 = cpu_ticks()
    with open(log_path, errors="replace") as fh:
        log = fh.readlines()
    notes = [ln.rstrip() for ln in log if ln.startswith("[perfbench]")][:50]
    log_tail = log[-40:]
    if not args.record:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if out is None or proc.returncode != 0 or not lines:
        reason = "timed out" if out is None else f"exited with {proc.returncode}"
        print(f"perfbench: JVM {reason}; log tail:\n" + "".join(log_tail), file=sys.stderr)
        return 1
    if args.record:
        with open(expected, "w") as fh:
            json.dump(json.loads(lines[-1]), fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"recorded {os.path.relpath(expected, REPO)}; results in {os.path.relpath(work, REPO)}/record")
        return 0
    result = json.loads(lines[-1])
    want = metric_names(args.trace)
    got = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
    if set(result) != {"correct", "attempted", "failed", "metrics"} or got != want:
        print(f"perfbench: result does not match BENCHMARK.json: {sorted(set(got) ^ set(want))}",
              file=sys.stderr)
        return 1
    for ln in lines[:-1]:
        print(ln)
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests during the run
        steal = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        print(json.dumps({"host": {"steal_share": round(steal, 4)}}))
    for ln in notes:
        print(ln, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
