#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (sbt; reused while the
sources are unchanged), generates the seeded inputs (cached per seed and
scale), runs the JVM harness, checks every op's output against its DuckDB
oracle and prints the metrics. The last line of stdout is one JSON object:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
Everything it writes stays under perfbench/work/; a record of each run
(machine, sources, inputs, checks, leaks, metrics) goes to
perfbench/work/runs/.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / "work"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from stats import failure_share, median  # noqa: E402

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
BUILD_TIMEOUT_S = 800
HARNESS_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_hash():
    """Hash of everything the build reads from the checkout."""
    files = [REPO / "build.sbt", HERE / "build.sbt"]
    for d in (REPO / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (REPO / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(REPO)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(src_hash):
    """Runtime classpath of the harness, compiling with sbt if the sources
    changed since the last build in this checkout."""
    stamp = WORK / "classpath.json"
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached["sources"] == src_hash:
            return cached["classpath"], 0.0
    log("building engine and harness with sbt")
    t0 = time.monotonic()
    proc = subprocess.run(["sbt", "-batch", "export Runtime/fullClasspath"], cwd=HERE,
                          stdin=subprocess.DEVNULL, capture_output=True, text=True,
                          timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln and not ln.startswith("[") and "scala-2.13" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    stamp.write_text(json.dumps({"sources": src_hash, "classpath": lines[-1]}))
    return lines[-1], time.monotonic() - t0


def machine():
    info = {"nproc": os.cpu_count(), "loadavg": os.getloadavg(),
            "python": platform.python_version(), "platform": platform.platform()}
    try:
        info["git_sha"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                                         capture_output=True, text=True).stdout.strip() or None
    except OSError:
        info["git_sha"] = None
    return info


def harness(classpath, meta, cpus, workload, tables, bookorders, seconds, trace, rounds, out):
    scratch = WORK / "scratch"
    tmp = WORK / "tmp"
    for d in (scratch, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    confs = dict(meta["session_conf"], **{"spark.local.dir": str(tmp)})
    cmd = (["java"] + meta["jvm_options"] + [f"-Djava.io.tmpdir={tmp}"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness",
              "--workload", workload, "--tables", str(tables),
              "--bookorders", str(bookorders), "--scratch", str(scratch),
              "--seconds", str(seconds), "--trace", str(trace),
              "--cpus", str(cpus),
              "--rounds", str(rounds), "--out", str(out)]
           + [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")])
    with open(WORK / "harness.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: harness timed out")
    if rc != 0 or not out.exists():
        sys.stderr.write((WORK / "harness.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    return json.loads(out.read_text()), confs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    meta = json.loads((HERE / "meta.json").read_text())
    if a.workload not in meta["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main").is_dir():
        raise SystemExit("perfbench: the engine's sources are not in this checkout")
    wl = meta["workloads"][a.workload]
    WORK.mkdir(exist_ok=True)
    t_start = time.monotonic()

    src_hash = sources_hash()
    classpath, build_s = build(src_hash)

    t0 = time.monotonic()
    inputs = WORK / "inputs"
    tables, tman = gen.ensure(inputs, "tables", {"scale": wl["tables_scale"]}, a.seed)
    bo = wl.get("bookorders")
    bookorders, bman = (gen.ensure(inputs, "bookorders", bo, a.seed) if bo
                        else ("", {"hash": ""}))
    gen_s = time.monotonic() - t0
    input_hash = hashlib.sha256((tman["hash"] + bman["hash"]).encode()).hexdigest()[:16]

    out = WORK / "harness.json"
    out.unlink(missing_ok=True)
    load_before = os.getloadavg()
    t0 = time.monotonic()
    cpus = min(meta["cpus"], os.cpu_count())
    record, confs = harness(classpath, meta, cpus, a.workload, tables, bookorders, a.seconds,
                            a.trace, bo["rounds"] if bo else 0, out)
    harness_s = time.monotonic() - t0

    t0 = time.monotonic()
    checks = oracle.check_all(record, WORK / "scratch" / "check", tables, bookorders,
                              input_hash, WORK / "oracle_cache", WORK / "tmp" / "duckdb")
    check_s = time.monotonic() - t0
    wrong = {name for name, why in checks.items() if why}
    for name in sorted(wrong):
        log(f"WRONG {name}: {checks[name]}")

    timed = [o for p in record["passes"] for o in p["ops"]]
    attempted = len(timed)
    failed = sum(1 for o in timed if not o["ok"] or o["name"] in wrong)
    for o in timed:
        if not o["ok"]:
            log(f"FAILED {o['name']}: {o['err']}")
    e2e, op_latency = layers.end_to_end(record)
    metrics = e2e if a.trace == 0 else layers.per_layer(record, cpus)

    for name, (value, unit, n) in metrics.items():
        log(f"{name:28s} {value:14.6f} {unit:6s} n={n}")
    share = failure_share(attempted, failed)
    log(f"op latency (not gated): {op_latency}")
    log(f"ops_failed_frac = {share} ({failed}/{attempted}); "
        f"leaking ops: {sorted({x['op'] for x in record['leaks']}) or 'none'}")

    runs = WORK / "runs"
    runs.mkdir(exist_ok=True)
    overhead = None
    if a.trace:
        # tracing overhead: this traced pass against the untraced runs of
        # the same workload, on inputs of the same size, recorded in this
        # checkout
        untraced = [json.loads(f.read_text())
                    for f in runs.glob(f"*-{a.workload}-s*-t0.json")]
        plain = [r["metrics"]["pass_s"]["value"] for r in untraced
                 if r["inputs"]["tables"]["params"] == tman["params"]
                 and r["inputs"]["bookorders"].get("params") == bman.get("params")]
        if plain:
            overhead = {"traced_minus_untraced_pass_s": e2e["pass_s"][0] - median(plain),
                        "untraced_runs": len(plain)}
            log(f"tracing overhead: {overhead}")
    summary = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "machine": dict(machine(), loadavg_before=load_before, loadavg_after=os.getloadavg()),
        "jvm_options": meta["jvm_options"], "heap_max_mb": record["heap_max_mb"],
        "cpus": cpus, "session_conf": confs, "spark": record["spark_version"],
        "sources_hash": src_hash, "inputs": {"tables": tman, "bookorders": bman,
                                             "hash": input_hash},
        "times_s": {"build": build_s, "generate": gen_s, "harness": harness_s,
                    "check": check_s, "total": time.monotonic() - t_start},
        "checks": checks, "attempted": attempted, "failed": failed,
        "passes": [{"steal_share": p["machine"]["steal_jiffies"] / max(1, p["machine"]["jiffies"]),
                    "ops": [{k: o[k] for k in ("name", "ok", "wall_s", "cpu_s", "build_s",
                                                "plan_s", "exec_s")} for o in p["ops"]]}
                   for p in record["passes"]],
        "ops_failed_frac": share,
        "op_latency": op_latency,
        "leaks": record["leaks"], "tracing_overhead": overhead,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in
                    dict(e2e, **(metrics if a.trace else {})).items()},
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (runs / f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}.json").write_text(
        json.dumps(summary, indent=1))

    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
