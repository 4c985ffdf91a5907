#!/usr/bin/env python3
"""Runs one benchmark workload of the graft histogram library and prints
its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of the repository. The first run builds the library and
the harness with sbt (perfbench/build.sbt); later runs reuse the build
until a source file changes. Every metric is printed as `name value unit`;
the last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORKLOADS = ("fill_rows", "fill_bins", "queries")
# a fixed heap, touched in full at start: without that, G1's adaptive
# sizing moved the peak resident memory of the same run by up to 30 %, so
# peak_rss_mb counts the whole heap plus the native memory on top of it
HEAP = "2g"
CHECK = os.path.join(ROOT, "tools", "check.py")
DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 840.0

sys.path.insert(0, BENCH)


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the library's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compiles the library and the harness unless the last build is of the
    same sources; returns the runtime classpath and JVM options."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isfile(CHECK):
        fail(f"no library sources under {ROOT} "
             "(expected build.sbt, src/main/scala/graft and tools/check.py)", 2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "javaopts.txt")
    fresh = os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and \
        os.path.exists(cp_file) and os.path.exists(opts_file)
    if not fresh:
        os.makedirs(TARGET, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log = os.path.join(TARGET, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeRuntime"],
                                    cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"build failed (exit {rc}); log in {log}", 3)
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
    with open(cp_file) as fh:
        cp = fh.read().strip()
    with open(opts_file) as fh:
        opts = [o for o in fh.read().split("\n") if o]
    return cp, opts


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(args, work, cp, opts, cores, tables, t_start):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *opts,
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
           "--work", work, "--out", out]
    if tables:
        cmd += ["--tables", tables]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = [ln for ln in fh.readlines() if "WARN" not in ln][-30:]
        sys.stderr.write("".join(tail))
        fail("benchmark JVM timed out" if rc is None else f"benchmark JVM failed (exit {rc})", 4)
    with open(out) as fh:
        return json.load(fh)


def check_results(tables, results):
    """Compares each registry query's result with its DuckDB oracle through
    tools/check.py; returns its FAIL and EMPTY lines."""
    p = subprocess.run([sys.executable, CHECK, tables, results], capture_output=True,
                       text=True, stdin=subprocess.DEVNULL, timeout=120)
    lines = p.stdout.splitlines()
    errors = [ln for ln in lines if ln.startswith("FAIL") or ln.endswith("(EMPTY!)")]
    if p.returncode not in (0, 1) or not lines or \
            not (lines[-1] == "ALL PASS" or lines[-1].endswith("FAILURES")):
        errors.append(f"tools/check.py exited {p.returncode}: {p.stderr.strip()[-500:]}")
    return errors


def per_call(rec, cores):
    """Breaks each traced call into its layers, from the recorded spans and
    per-stage task totals."""
    spans = {s[0]: {"id": s[0], "parent": s[1], "name": s[2], "start": s[3],
                    "end": s[4] if s[4] is not None else s[3]} for s in rec.get("spans", [])}
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)
    stages = {}
    for st in rec.get("stages", []):
        if st["complete_ms"] > 0:
            stages.setdefault(st["job_span"], []).append(st)

    def self_s(s):
        """Duration minus the time its child spans cover."""
        iv = sorted((c["start"], c["end"]) for c in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            covered += cur[1] - cur[0]
        return (s["end"] - s["start"] - covered) / 1000.0

    out = []
    for c in rec["calls"]:
        if not c.get("traced") or not c.get("ok") or "span" not in c:
            continue
        phases = {p["name"].split(".")[-1] if p["name"].startswith("query:") else p["name"]: p
                  for p in kids.get(c["span"], [])}
        jobs = {p: sorted((j for j in kids.get(s["id"], []) if j["name"].startswith("job:")),
                          key=lambda j: j["start"]) for p, s in phases.items()}
        all_jobs = [j for js in jobs.values() for j in js]
        sts = [st for j in all_jobs for st in stages.get(j["id"], [])]
        dur = lambda s: (s["end"] - s["start"]) / 1000.0
        construct = next((p for p in ("Histogram.result", "Routines.histogramdd", "construct")
                          if p in phases), None)
        if "HistResult.collect" in phases:      # a fill call
            ex = phases["HistResult.collect"]
            js = jobs["HistResult.collect"]
            plan_s = (js[0]["start"] - ex["start"]) / 1000.0 if js else dur(ex)
            exec_s = dur(ex) - plan_s
            dense_s = dur(phases["HistResult.dense"])
        else:                                   # a registry query
            ex = phases["exec"]
            js = jobs["exec"]
            plan_s, exec_s, dense_s = dur(phases["plan"]), dur(ex), 0.0
        run_s = sum(st["run_ms"] for st in sts) / 1000.0
        records = sum(st["shuffle_write_records"] for st in sts)
        cells = rec["input"]["cells"]
        out.append({
            "name": c["name"], "pass": c["pass"], "wall_s": c["wall_s"],
            "construct_s": dur(phases[construct]),
            "plan_s": plan_s, "exec_s": exec_s,
            "driver_s": sum(self_s(p) for p in phases.values()),
            "jobs": len(all_jobs), "eager_jobs": len(jobs.get(construct, [])),
            "stages": len(sts), "tasks": sum(st["tasks"] for st in sts),
            "map_stage_s": sum((st["complete_ms"] - st["submit_ms"]) / 1000.0
                               for st in sts if st["shuffle_write_records"] > 0),
            "reduce_stage_s": sum((st["complete_ms"] - st["submit_ms"]) / 1000.0
                                  for st in sts if st["shuffle_write_records"] == 0),
            "run_s": run_s, "cpu_s": sum(st["cpu_ns"] for st in sts) / 1e9,
            "idle_frac": 1.0 - run_s / (c["wall_s"] * cores),
            "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in sts),
            "shuffle_records": records,
            "records_per_partition_cell":
                records / (rec["input"]["partitions"] * cells) if cells else 0.0,
            "spill_bytes": sum(st["spill_bytes"] for st in sts),
            "peak_exec_mem_mb": max((st["peak_exec_mem"] for st in sts), default=0) / 2**20,
            "collect_s": (ex["end"] - js[-1]["end"]) / 1000.0 if js else dur(ex),
            "dense_s": dense_s, "rows": c["rows"],
            "bhj": c.get("bhj", 0), "smj": c.get("smj", 0), "ops": c["ops"],
        })
    return out


def trace_overhead(calls):
    """Traced over untraced wall time, minus one: per call name when both
    were measured, else over all calls."""
    by = {}
    for c in calls:
        if c.get("ok"):
            by.setdefault(c["name"], {}).setdefault(c["traced"], []).append(c["wall_s"])
    ratios = [median(v[True]) / median(v[False]) for v in by.values() if True in v and False in v]
    if ratios:
        return median(ratios) - 1.0
    t = [c["wall_s"] for c in calls if c.get("ok") and c["traced"]]
    u = [c["wall_s"] for c in calls if c.get("ok") and not c["traced"]]
    return median(t) / median(u) - 1.0 if t and u else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp, opts = build()
    t_start = time.monotonic()      # the run's own deadline starts after the build

    cores = min(len(os.sched_getaffinity(0)), 4)
    work = os.path.join(TARGET, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # the input: generated rows (fill) or the registry's tables
        t0 = time.perf_counter()
        if args.workload.startswith("fill_"):
            import gen_fill
            tables = None
            gen_fill.write(os.path.join(work, "input"), args.seed, args.workload)
        else:
            import gen_tables
            tables = os.path.join(work, "tables")
            gen_tables.write(tables)
        generate_s = time.perf_counter() - t0
        rec = run_jvm(args, work, cp, opts, cores, tables, t_start)
        errors = list(rec["errors"])
        if tables:
            errors += check_results(tables, os.path.join(work, "results"))
        calls = rec["calls"]
        attempted = rec["check_attempted"] + len(calls)
        failed = len(errors)
        ok_walls = [c["wall_s"] for c in calls if c.get("ok") and not c.get("traced")]
        print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
              f"local[{cores}] heap={HEAP} warmup_passes={rec['warmup_passes']} "
              f"calls={len(calls)} passes={len(rec['passes'])} "
              f"window_s={rec['window_s']:.3f}")
        print("# seconds since JVM start at the end of: " +
              f"session={rec['session_start_s']:.2f} " +
              " ".join(f"{k}={v:.2f}" for k, v in rec["marks"].items()) +
              f"; run.py total {time.monotonic() - t_start:.2f}")
        print("# call walls (s): " + " ".join(f"{c['wall_s']:.3f}" for c in calls))
        for e in errors:
            print(f"# error: {e}")
        print(f"# error_rate {failed / attempted:.6f} ratio ({failed} of {attempted} ops)")

        if args.trace == 0:
            metrics = {
                "setup_s": (rec["setup_s"], "s"),
                "op_p50_s": (median(ok_walls), "s"),
                "pass_s": (median(rec["passes"]), "s"),
                "peak_rss_mb": (rec["vmhwm_mb"], "MB"),
            }
        else:
            pc = per_call(rec, cores)
            inp = rec["input"]
            scan, project = rec["scan_s"], rec["project_s"]
            m = lambda k: median([c[k] for c in pc])
            metrics = {
                "session.start_s": (rec["session_start_s"], "s"),
                "jvm.jit_s": (rec["jit_s"], "s"),
                "jvm.gc_s": (rec["gc_s"], "s"),
                "input.generate_s": (generate_s, "s"),
                "input.scan_s": (scan, "s"),
                "input.partitions": (inp["partitions"], "count"),
                "input.rows_per_partition_min": (inp["rows_per_partition_min"], "rows"),
                "axis.project_s": (project, "s"),
                "axis.self_s": (project - scan, "s"),
                "axis.ns_per_row_dim": ((project - scan) * 1e9 / (inp["rows"] * inp["dims"]), "ns"),
            }
            for k, unit in (("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                            ("driver_s", "s"), ("jobs", "count"), ("stages", "count"),
                            ("tasks", "count"), ("map_stage_s", "s"), ("reduce_stage_s", "s"),
                            ("run_s", "s"), ("cpu_s", "s"), ("idle_frac", "ratio"),
                            ("shuffle_write_bytes", "bytes"), ("shuffle_records", "count"),
                            ("spill_bytes", "bytes"), ("peak_exec_mem_mb", "MB")):
                metrics[f"call.{k}"] = (m(k), unit)
            metrics["fill.records_per_partition_cell"] = (m("records_per_partition_cell"), "ratio")
            metrics["result.collect_s"] = (m("collect_s"), "s")
            metrics["result.dense_s"] = (m("dense_s"), "s")
            metrics["result.rows"] = (m("rows"), "rows")
            # the ops layer: per pass, summed over the ops queries
            ops = {}
            for c in pc:
                if c["ops"]:
                    ops.setdefault(c["name"], []).append(c)
            per_pass = lambda k: sum(median([c[k] for c in v]) for v in ops.values())
            metrics["ops.eager_jobs"] = (per_pass("eager_jobs"), "count")
            metrics["ops.barrier_s"] = (per_pass("construct_s"), "s")
            metrics["ops.bhj"] = (per_pass("bhj"), "count")
            metrics["ops.smj"] = (per_pass("smj"), "count")
            metrics["pass.leaked_rdds"] = (
                sum(c["leaked_rdds"] for c in calls) / len(rec["passes"]), "count")
            metrics["host.steal_s"] = (rec["host"]["steal_s"], "s")
            metrics["host.other_busy_s"] = (rec["host"]["other_busy_s"], "s")
            metrics["trace.overhead_frac"] = (trace_overhead(calls), "ratio")
            # per-query detail: which query starts jobs while it is built
            names = sorted({c["name"] for c in pc})
            if len(names) > 1:
                for n in names:
                    q = [c for c in pc if c["name"] == n]
                    print(f"# query {n}: wall_s={median([c['wall_s'] for c in q]):.4f} "
                          f"construct_s={median([c['construct_s'] for c in q]):.4f} "
                          f"eager_jobs={median([c['eager_jobs'] for c in q]):g} "
                          f"jobs={median([c['jobs'] for c in q]):g} "
                          f"bhj={median([c['bhj'] for c in q]):g} smj={median([c['smj'] for c in q]):g} "
                          f"idle_frac={median([c['idle_frac'] for c in q]):.3f}")
            trace = {k: rec[k] for k in ("workload", "seed", "cores", "heap_mb", "spans", "stages")}
            trace["calls"] = pc
            with open(os.path.join(TARGET, f"trace-{args.workload}.json"), "w") as fh:
                json.dump(trace, fh)
        for k, (v, unit) in metrics.items():
            print(f"{k} {v:.6g} {unit}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
