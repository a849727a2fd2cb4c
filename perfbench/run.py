"""Benchmark of the incremental ETL cycle and the query paths.

Usage (from the repository root):
  python3 perfbench/run.py --workload cycle_steady --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), makes the workload's
inputs from the seed, runs one benchmark JVM, checks the outputs, prints
every metric by name and, as the last line, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run. A full artifact (host stamp, parameters,
per-cycle and per-query detail, span analysis) goes to
.bench_build/results/. Exits non-zero when any operation or correctness
check failed, or when the program cannot be built. A run with another
--seconds than BENCHMARK.json's is not the declared benchmark, and its
artifact gets a different name.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")

WORKLOADS = ("cycle_steady", "query_paths")
# cycle_steady: simulated 30 s ticks pre-loaded before measuring, and the
# most cycles a run measures
HISTORY_TICKS = 10
MAX_CYCLES = 8
JVM_TIMEOUT_S = 170

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def host_stamp():
    """nproc, load average and the java processes sharing the host."""
    me, lineage = os.getpid(), set()
    pid = me
    while pid and pid not in lineage:
        lineage.add(pid)
        try:
            with open(f"/proc/{pid}/status") as fh:
                pid = int(next(l for l in fh if l.startswith("PPid:")).split()[1])
        except (OSError, StopIteration, ValueError):
            break
    jvms = 0
    for p in os.listdir("/proc"):
        if p.isdigit() and int(p) not in lineage:
            try:
                with open(f"/proc/{p}/comm") as fh:
                    jvms += fh.read().strip() == "java"
            except OSError:
                pass
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    # cpu[7] is steal: time the hypervisor gave this host's CPUs to others
    return {"nproc": os.cpu_count(), "loadavg": load, "java_procs": jvms,
            "cpu_ticks": sum(cpu), "steal_ticks": cpu[7]}


def run_jvm(cp, argv, work, log, make_inputs):
    """Starts the benchmark JVM, makes the inputs while it starts up, then
    releases it by writing inputs/READY. Returns the JVM's exit code."""
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", *JAVA_OPENS,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={ROOT}/perfbench/log4j2.properties",
           "-cp", cp, "perfbench.Main", *argv]
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            make_inputs()
            open(os.path.join(work, "inputs", "READY"), "w").close()
            return p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def main():
    # on SIGTERM, unwind so that run_jvm stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    params = ({"history_ticks": HISTORY_TICKS, "max_cycles": MAX_CYCLES}
              if a.workload == "cycle_steady" else {})

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cp = build.build()
    started = time.time()
    host = host_stamp()
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", f"{work}/result.json",
            "--inputs", inputs]
    argv += sum(([f"--{k}", str(v)] for k, v in params.items()), [])
    input_rows = {}

    def make_inputs():
        if a.workload == "query_paths":
            import corpus
            corpus.generate(inputs, a.seed)
        else:
            import sources
            input_rows.update(sources.generate(inputs, a.seed, HISTORY_TICKS + MAX_CYCLES))

    code = run_jvm(cp, argv, work, os.path.join(work, "jvm.log"), make_inputs)
    if code != 0 or not os.path.exists(f"{work}/result.json"):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        build.die(f"benchmark JVM failed (exit {code})")
    r = json.load(open(f"{work}/result.json"))
    detail = r["detail"]
    if input_rows:
        import sources
        detail["source_rows"] = input_rows
        detail["arrivals_per_tick"] = sources.RATES
    e2e = dict(r["e2e"])
    e2e["setup_s"] = detail["measure_start_ms"] / 1000.0 - started
    attempted, failed = r["attempted"], r["failed"]
    if a.workload == "query_paths":
        import oracle
        out_dir = f"{work}/query_out"
        if os.environ.get("PERFBENCH_CORRUPT") == "output":
            corrupt_output(out_dir)
        checks = oracle.check(inputs, out_dir, f"{work}/oracle_sql.json")
        detail["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d, _ in checks]
        attempted += len(checks)
        failed += sum(not ok for _, ok, _, _ in checks)
        # output rows computed per second of the summed per-query medians
        e2e["rows_per_s"] = sum(n for *_, n in checks) / detail["query_total_s"]
    correct = failed == 0

    # the workload-specific names of the end-to-end metrics, for people reading
    named = {"setup_s": (e2e["setup_s"], "s"),
             "retained_heap_mb": (e2e["retained_heap_mb"], "MB"),
             "peak_rss_mb": (detail["peak_rss_mb"], "MB"),
             "op_failure_ratio": (failed / attempted, "ratio")}
    if a.workload == "query_paths":
        named.update(query_total_s=(detail["query_total_s"], "s"),
                     query_geomean_s=(detail["query_geomean_s"], "s"))
    else:
        named.update(cycle_p50_s=(e2e["unit_s"], "s"),
                     cycle_rows_per_s=(e2e["rows_per_s"], "rows/s"),
                     warehouse_mb=(e2e["storage_mb"], "MB"))
    for k, (v, u) in named.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    if not correct:
        for c in detail.get("checks", []):
            if not c["ok"]:
                print(f"{a.workload} FAILED check {c['name']}: {c['detail']}")

    values = r["layers"] if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in bench["per_layer" if a.trace else "end_to_end"]}
    # one artifact per workload, seed and trace mode; another --seconds gets
    # its own file name so it never overwrites the declared benchmark's
    declared = a.seconds == bench["run_seconds"]
    suffix = "" if declared else f"-seconds{a.seconds:g}"
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    artifact = os.path.join(OUT, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}{suffix}.json")
    untraced = artifact.replace("-trace1", "-trace0")
    if a.trace and os.path.exists(untraced):
        # tracing overhead: this traced run's unit time minus the untraced
        # run's on the same seed and parameters
        with open(untraced) as fh:
            detail["tracing_overhead_s"] = e2e["unit_s"] - json.load(fh)["end_to_end"]["unit_s"]
    host_end = host_stamp()
    steal_share = ((host_end["steal_ticks"] - host["steal_ticks"])
                   / max(1, host_end["cpu_ticks"] - host["cpu_ticks"]))
    with open(artifact, "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "params": params, "declared": declared,
                   "host": host, "host_end": host_end, "steal_share": steal_share,
                   "correct": correct,
                   "attempted": attempted, "failed": failed, "end_to_end": e2e,
                   "named": {k: v for k, (v, _) in named.items()},
                   "per_layer": r["layers"], "detail": detail}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(f"{a.workload} artifact: {os.path.relpath(artifact, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def corrupt_output(out_dir):
    """Drops one row of the first query output: a deliberately corrupted
    output, for checking that the oracle gate fails."""
    import pyarrow.parquet as pq
    name = sorted(d for d in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{d}"))[0]
    for f in os.listdir(f"{out_dir}/{name}"):
        if f.endswith(".parquet"):
            t = pq.read_table(f"{out_dir}/{name}/{f}")
            pq.write_table(t.slice(1), f"{out_dir}/{name}/{f}")
            return


if __name__ == "__main__":
    sys.exit(main())
