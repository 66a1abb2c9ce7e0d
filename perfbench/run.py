#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload warehouse_bi --seed 1 --seconds 10 --trace 0

Builds the engine from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one JVM on Spark local[nproc] (perfbench/scala), verifies every op's
output, and prints a report followed by one JSON result line. With
`--trace 0` the result holds the end-to-end metrics; with `--trace 1` the
per-layer metrics, including the overhead tracing adds. Workloads and
metrics are declared in BENCHMARK.json; see perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 150
STEAL_WARN_PCT = 2.0
HEAP = "1g"


def cores():
    return len(os.sched_getaffinity(0))


def cpu_ticks(pid):
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def foreign_jvms():
    """Java processes outside this process's ancestry that burn CPU: more
    than 40 ms over a 400 ms window (an unreadable one counts as busy)."""
    ancestors, pid = set(), os.getpid()
    while pid > 1:
        ancestors.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            break
    cands = []
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) in ancestors:
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                exe = f.read().split(b"\0")[0].decode(errors="replace")
        except OSError:
            continue
        if exe == "java" or exe.endswith("/java"):
            cands.append(int(p))
    before = {}
    for p in cands:
        try:
            before[p] = cpu_ticks(p)
        except OSError:
            pass
    if not cands:
        return []
    time.sleep(0.4)
    hz = os.sysconf("SC_CLK_TCK")
    busy = []
    for p in cands:
        try:
            if p not in before or (cpu_ticks(p) - before[p]) * 1000 / hz > 40:
                busy.append(p)
        except OSError:
            pass
    return busy


def cpu_times():
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(classpath, spec_path, out_path, seconds, trace, work):
    log = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + build.JDK_OPENS
           + ["-cp", classpath, "graftbench.Main", spec_path, out_path,
              str(seconds), str(trace), str(cores()), work])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as lf:
        # few malloc arenas: the JVM's native footprint, and so its peak RSS,
        # then varies less from run to run
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-60:]))
        raise SystemExit(f"benchmark JVM failed ({rc}); log: {log}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    e2e_decl, layer_decl = stats.declared(stats.bench_json_path())
    busy = foreign_jvms()
    classpath = build.build()
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # paths handed to the JVM are relative to the checkout root
    rel = os.path.relpath(work, ROOT)
    gen.generate(a.workload, a.seed, os.path.join(rel, "input"))
    out_path = os.path.join(work, "result.json")
    steal0, total0 = cpu_times()
    run_jvm(classpath, os.path.join(rel, "input", "spec.json"), out_path,
            a.seconds, a.trace, rel)
    steal1, total1 = cpu_times()
    # CPU time the hypervisor gave to other guests while this run waited
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    with open(out_path) as f:
        res = json.load(f)

    notes = []
    if a.workload == "warehouse_bi":
        import oracle
        with open(os.path.join(work, "refs.json")) as f:
            refs = json.load(f)
        verdict = oracle.check(refs, os.path.join(work, "input", "lake"))
        bad = {int(v) for v, why in verdict.items() if why}
        notes += [why for why in verdict.values() if why]
        for ph in res["phases"]:
            for o in ph["ops"]:
                if o["key"] in bad:
                    o["ok"] = False
        res["quality"]["oracle_variants_checked"] = len(verdict)
        res["quality"]["oracle_variants_wrong"] = len(bad)

    measured = res["phases"][0]
    e2e = stats.end_to_end(measured, res["setup_s"], res["peak_rss_mb"], res["stamp"]["clients"])
    attempted = sum(len(ph["ops"]) for ph in res["phases"])
    failed = sum(1 for ph in res["phases"] for o in ph["ops"] if not o["ok"])

    stamp = dict(res["stamp"], contended_by_jvm_pids=busy, cpu_steal_pct=round(steal_pct, 2))
    print(f"# graft benchmark  workload={a.workload} seed={a.seed} "
          f"seconds={a.seconds:g} trace={a.trace}")
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    if busy:
        print(f"# WARNING: {len(busy)} other JVM(s) burning CPU (pids {busy}); "
              "timings are not comparable to a quiet machine")
    if steal_pct > STEAL_WARN_PCT:
        print(f"# WARNING: {steal_pct:.1f}% of CPU time stolen by the host during the run; "
              "timings are not comparable to a quiet machine")
    print(f"# setup runs (s): {', '.join(f'{s:.3f}' for s in res['setup_s'])}; "
          f"warm-up {res['warmup_s']:.3f} s")
    for name, (v, unit, n) in e2e.items():
        print(f"metric {name:<22} {v:14.4f} {unit:<6} n={n}")
    ok_ms = [o["ms"] for o in measured["ops"] if o["ok"]]
    tail = stats.highest_supported_percentile(len(ok_ms))
    for p in sorted({90, tail} - {None}):
        name = f"latency_p{p}_ms"
        value = (f"{stats.percentile(ok_ms, p):14.4f}" if stats.highest_supported_percentile(
            len(ok_ms), (p,)) else f"{'n/a':>14}")
        print(f"metric {name:<22} {value} ms     n={len(ok_ms)}")
    print(f"metric error_rate{'':<13} {failed / attempted:14.4f} ratio  n={attempted}")
    for k, v in sorted(res["quality"].items()):
        print(f"quality {k:<21} {v}")
    for line in notes:
        print(f"# oracle mismatch: {line}")

    if a.trace:
        traced = next(ph for ph in res["phases"] if ph["traced"])["per_layer"]
        metrics = {k: {"value": v, "unit": layer_decl.get(k, "")} for k, v in traced.items()}
        for k in sorted(traced):
            print(f"layer {k:<40} {traced[k]:16.6f} {layer_decl.get(k, '')}")
        stats.check_names(metrics, layer_decl)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        stats.check_names(metrics, e2e_decl)

    keep = os.path.join(WORK, "results")
    os.makedirs(keep, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.copy(out_path, os.path.join(keep, f"{tag}.json"))
    if os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(keep, f"{tag}-spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
