#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload stac_search --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the root of a checkout. The first run builds the engine and the
benchmark program (perfbench/build.py) into .bench_build/. Each run starts a fresh JVM,
sets up the workload, times it, checks every output, and prints as its last
line one JSON object: correct, attempted, failed and metrics — the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer metrics
with --trace 1. The full result, the JVM log and (traced) the spans stay in
.bench_build/results/. `--workload all` runs every workload and prints a
table of the end-to-end metrics instead.

Exit codes: 0 all checks passed; 1 a check failed (the result is still
printed); 2 no checkout to build; 3 the JVM failed or ran out of time.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def spec(root):
    path = root / "BENCHMARK.json"
    if not path.is_file():
        raise SystemExit(2)
    return json.loads(path.read_text())


def cpu_ticks():
    """(steal, total) CPU ticks so far, where /proc/stat has them."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(root, out, classes, args):
    """Run one workload; return the result dict, or exit 3."""
    results = out / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    result = results / f"{name}.json"
    result.unlink(missing_ok=True)
    work = out / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={work / 'hadoop-tmp'}",
           f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(root, classes), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", str(root), "--work", str(work), "--out", str(result)]
    log = results / f"{name}.log"
    ticks0 = cpu_ticks()
    try:
        with open(log, "w") as f:
            proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not result.exists():
        tail = log.read_text(errors="replace")[-3000:]
        sys.stderr.write(f"{tail}\nrun: JVM exit {rc}, see {log}\n")
        raise SystemExit(3)
    res = json.loads(result.read_text())
    # CPU time the host gave to other guests while this run wanted it:
    # wall-clock metrics move with it
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    res["info"]["steal_frac"] = steal / total if total else None
    result.write_text(json.dumps(res))
    return res


def layer_values(bench, workload, reported):
    """A traced run's per-layer metrics. Each one metrics.json measures on
    `workload` must be reported and not 0; a metric of a layer the
    workload never calls reads 0. Exits 3 on any mismatch."""
    meta = json.loads((Path(__file__).resolve().parent / "metrics.json").read_text())["layers"]
    names = [m["name"] for m in bench["per_layer"]]
    problems = []
    if set(names) != set(meta):
        problems.append("BENCHMARK.json and metrics.json name different layer metrics: "
                        f"{sorted(set(names) ^ set(meta))}")
    unknown = sorted(set(reported) - set(names))
    if unknown:
        problems.append(f"reported but not in BENCHMARK.json: {unknown}")
    zero = [n for n in names if workload in meta.get(n, {}).get("workloads", [])
            and not reported.get(n)]
    if zero:
        problems.append(f"not reported or 0 on {workload}: {zero}")
    if problems:
        sys.stderr.write("".join(f"run: {p}\n" for p in problems))
        raise SystemExit(3)
    return {n: reported.get(n, 0.0) for n in names}


def overhead(out, args, res):
    """Traced minus untraced end-to-end numbers for the same seed."""
    plain = out / "results" / f"{args.workload}-s{args.seed}-t0.json"
    if not plain.exists():
        return None
    base = json.loads(plain.read_text())["end_to_end"]
    return {k: v - base[k] for k, v in res["end_to_end"].items() if k in base}


def one(root, out, args):
    bench = spec(root)
    classes = build.build(root, out)
    res = run_jvm(root, out, classes, args)
    if args.trace:
        declared = bench["per_layer"]
        values = layer_values(bench, args.workload, res["layers"])
    else:
        declared, values = bench["end_to_end"], res["end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in values]
        if missing:
            sys.stderr.write(f"run: the benchmark JVM did not report {missing}\n")
            raise SystemExit(3)
    for f in res["failures"]:
        sys.stderr.write(f"FAILED {f}\n")
    if args.trace:
        res["trace_overhead"] = overhead(out, args, res)
        sys.stderr.write(f"tracing overhead (traced - untraced): {res['trace_overhead']}\n")
        (out / "results" / f"{args.workload}-s{args.seed}-t1.json").write_text(json.dumps(res))
    for m in bench["end_to_end"]:
        sys.stderr.write(f"{args.workload} {m['name']} = "
                         f"{res['end_to_end'][m['name']]:.4f} {m['unit']}\n")
    sys.stderr.write(f"{args.workload} fail_frac = "
                     f"{res['failed'] / max(1, res['attempted']):.4f}\n"
                     f"{args.workload} cpu steal during the run = {res['info']['steal_frac']}\n")
    line = {"correct": res["failed"] == 0, "attempted": max(1, res["attempted"]),
            "failed": res["failed"],
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in declared}}
    print(json.dumps(line), flush=True)
    return res["failed"] == 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = Path.cwd()
    bench = spec(root)
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload != "all":
        if args.workload not in names:
            ap.error(f"unknown workload {args.workload}; one of {names}")
        raise SystemExit(0 if one(root, out, args) else 1)
    ok, rows = True, []
    for w in names:
        t0 = time.time()
        proc = subprocess.run([sys.executable, __file__, "--workload", w,
                               "--seed", str(args.seed), "--seconds", str(args.seconds),
                               "--trace", "0"], stdout=subprocess.PIPE, text=True)
        ok &= proc.returncode == 0
        if proc.returncode in (0, 1):
            r = json.loads(proc.stdout.strip().splitlines()[-1])
            for name, m in r["metrics"].items():
                rows.append((w, name, m["value"], m["unit"]))
            rows.append((w, "fail_frac", r["failed"] / r["attempted"], "1"))
        rows.append((w, "run_wall", time.time() - t0, "s"))
    for w, name, v, unit in rows:
        print(f"{w:<12} {name:<18} {v:>14.4f} {unit}")
    raise SystemExit(0 if ok else 1)


if __name__ == "__main__":
    main()
