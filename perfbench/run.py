#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one closed-loop client.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft and the harness if needed
(perfbench/build.py), generates the workload's inputs from the seed,
runs it in one JVM with at most 4 Spark task threads, checks every
operation's output, and prints a report followed by one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("sigproc_channels", "neardup_corpus", "admit_stream", "registry_sweep")
FIXTURE = os.path.join(BENCH, "fixture", "sf0.01")
JVM_TIMEOUT_S = 150
UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
         "rows_per_s": "rows/s", "cpu_s_per_op": "s", "peak_rss_mb": "MB",
         "failed_frac": "ratio"}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def task_threads() -> int:
    """Half the cores, at most 4: the planning thread, the JIT compilers
    and GC get the other half, so task threads do not queue behind them."""
    return max(1, min(4, (os.cpu_count() or 1) // 2))


def heap() -> str:
    """Half of MemTotal in GiB, clamped to [2, 8] (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + build.source_digest()


def run_jvm(cp, args, work, log):
    # a fixed young generation: peak RSS then follows retained memory,
    # not G1's adaptive eden sizing
    # one C1 and one C2 compiler thread instead of the default three:
    # Spark generates and compiles new classes on every operation, and
    # the compilers then compete with the task threads for the cores
    cmd = (["java", f"-Xmx{heap()}", "-Xmn1g", "-Xss16m", "-XX:-UsePerfData",
            "-XX:CICompilerCount=2",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--seed",
              str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--threads", str(task_threads()), "--fixture", FIXTURE])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "w") as out:
        # few malloc arenas: native memory, and so RSS, less thread-dependent
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed ({rc})")


def oracle_check(work):
    """Compare the warm-up pass's dumps with their DuckDB oracles
    (tools/check.py); returns the names of queries that do not match."""
    out = os.path.join(work, "oracle")
    env = dict(os.environ, GRAFT_DUCKDB_TMP=os.path.join(work, "duckdb_tmp"),
               GRAFT_MIN_FREE_GB="0.5")
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), FIXTURE, out,
                        os.path.join(out, "check.json")], env=env, capture_output=True,
                       text=True, timeout=120)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        raise SystemExit("oracle check failed to run")
    with open(os.path.join(out, "check.json")) as f:
        res = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        declared = json.load(f)
    return sorted(q for q in declared if not res.get(q, {}).get("hash_match"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build.build()
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(cp, args, work, os.path.join(work, "jvm.log"))
        with open(os.path.join(work, "raw.json")) as f:
            raw = json.load(f)
        oracle_failed = oracle_check(work) if args.workload == "registry_sweep" else []
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, tail = metrics.end_to_end(raw, "timed", oracle_failed)
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"] or o["name"] in oracle_failed)
    stamp = dict(raw["stamp"], commit=commit(), heap=heap())
    result = {"stamp": stamp, "inputs": raw["inputs"], "end_to_end": e2e, "tail": tail,
              "oracle_failed": oracle_failed,
              "setup": raw["setup"], "phases": raw["phases"],
              "op_s": metrics.op_summary(raw),
              "errors": sorted({o["err"] for o in raw["ops"] if o["err"]})[:5]}
    if args.trace:
        per_layer = metrics.per_layer(raw, "traced")
        result["per_layer"] = per_layer
        result["layer_table_s"] = metrics.layer_table(raw, "traced")
        values = per_layer
    else:
        values = e2e
    # the result line carries the metrics BENCHMARK.json names; the
    # result file keeps every metric computed
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
           for m in declared_metrics("per_layer" if args.trace else "end_to_end")}

    os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
    with open(os.path.join(BENCH, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)
    report(result)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def declared_metrics(kind):
    """The `end_to_end` or `per_layer` entries of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def report(r):
    s = r["stamp"]
    print(f"# {s['workload']} seed={s['seed']} threads={s['task_threads']} heap={s['heap']} "
          f"jdk={s['jdk']} spark={s['spark']} commit={s['commit']}")
    print("# inputs: " + json.dumps(r["inputs"]))
    for k in ("setup_s", "op_p50_s", "op_tail_s", "ops_per_s", "rows_per_s", "cpu_s_per_op",
              "peak_rss_mb", "failed_frac"):
        extra = ""
        if k == "op_tail_s":
            t = r["tail"]
            extra = (f"  (p{t['tail_percentile']:g}, {t['tail_beyond']} beyond"
                     f"{'' if t['tail_rule_met'] else ', fewer than 10: median'})")
        print(f"{k:>14} = {r['end_to_end'][k]:.6g} {UNITS[k]}{extra}")
    if r["oracle_failed"]:
        print("# oracle mismatches: " + ", ".join(r["oracle_failed"]))
    for e in r["errors"]:
        print("# error: " + e)
    if "layer_table_s" in r:
        lt = r["layer_table_s"]
        print("# self time per operation by layer (traced):")
        for layer, v in lt.items():
            print(f"#   {layer:>10} {v:10.4f} s")
        print(f"#   {'sum':>10} {sum(lt.values()):10.4f} s   (harness = wall time outside "
              "every span)")
        p = r["per_layer"]
        print(f"# tracing overhead: {p['trace.overhead_s']:+.4f} s per operation "
              f"({p['trace.overhead_ratio']:+.1%})")


if __name__ == "__main__":
    main()
