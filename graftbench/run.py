#!/usr/bin/env python3
"""graft's benchmark: one command for both workloads.

    python3 graftbench/run.py --workload {batch,stream_chain} --seed N
        --seconds S --trace {0,1}

Run it from the root of a checkout. The first run builds graft and the
harness from source with sbt (graftbench/build.sbt) and caches the
classpath under .bench_build/; later runs reuse it until a source changes.
Each run checks the program's outputs, writes a run record to
.bench_build/records/, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).
It exits non-zero when an output is wrong or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("batch", "stream_chain")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [root / "graftbench" / "build.sbt",
             root / "graftbench" / "project" / "build.properties"]
    for base in (root / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, env=None, stdout=None):
    """Run a command in its own process group; kill the group and wait
    for it on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(root, build_dir):
    """Compile graft + the harness; return the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = build_dir / "classpath.txt"
    stamp_file = build_dir / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building graft and the harness with sbt")
    sbt_opts = ["--batch", "-Dsbt.log.noformat=true",
                f"-Dsbt.global.base={build_dir / 'sbt-global'}",
                "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env = dict(os.environ, COURSIER_MODE="offline")
    out = build_dir / "sbt-build.log"
    with open(out, "w") as f:
        rc = run_bounded(["sbt", *sbt_opts, "compile",
                             "export Runtime/fullClasspath"],
                            HERE, BUILD_TIMEOUT_S, env=env, stdout=f)
    lines = out.read_text().splitlines()
    if rc != 0 or not lines:
        sys.stdout.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"sbt build failed (exit {rc}); see {out}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def check_fingerprints(work, goldens):
    """Compare each warm-up result with its golden; return failed names."""
    from fingerprint import parquet_fingerprint
    meta = json.loads((work / "out" / "queries.json").read_text())
    bad = []
    for q in meta["queries"]:
        if q in meta["failed"]:
            continue  # already counted by the harness
        want = goldens.get(q)
        try:
            rows, sha = parquet_fingerprint(work / "out" / q)
        except Exception as e:  # unreadable output is a wrong output
            log(f"{q}: cannot fingerprint: {e}")
            bad.append(q)
            continue
        if want is None or [rows, sha] != [want["rows"], want["sha256"]]:
            log(f"{q}: fingerprint mismatch: got {rows} rows {sha[:12]}, "
                f"golden {want}")
            bad.append(q)
    return bad


def run_harness(root, workload, seed, seconds, trace):
    """Build if needed, run the JVM harness once; return (work dir, result).
    The caller removes the work directory."""
    build_dir = root / ".bench_build"
    build_dir.mkdir(exist_ok=True)
    cp = build(root, build_dir)
    work = build_dir / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    commit = "unknown"
    if (root / ".git").exists():
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                    capture_output=True, text=True,
                                    timeout=10).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    if commit == "unknown":
        commit = "src-" + source_stamp(root)[:16]
    java = ["java", *[f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS],
            "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", str(HERE / "data" / "sf0.01"), "--work", str(work),
            "--commit", commit]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    try:
        rc = run_bounded(java, root, JVM_TIMEOUT_S, env=env,
                            stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"harness exceeded {JVM_TIMEOUT_S} s")
    result_file = work / "result.json"
    if rc != 0 or not result_file.exists():
        raise SystemExit(f"harness failed (exit {rc})")
    return work, json.loads(result_file.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    spec_file = root / "BENCHMARK.json"
    if not (root / "src" / "main" / "scala" / "graft").is_dir() or \
            not spec_file.exists():
        raise SystemExit("run from the root of a graft checkout: "
                         "src/main/scala/graft or BENCHMARK.json is missing")
    spec = json.loads(spec_file.read_text())
    t0 = time.time()
    work, res = run_harness(root, args.workload, args.seed, args.seconds,
                            args.trace)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    record = res["record"]
    log(f"harness done after {time.time() - t0:.1f} s")

    if args.workload == "batch" and (work / "out").exists():
        goldens = json.loads((HERE / "goldens.json").read_text())
        bad = check_fingerprints(work, goldens)
        failed += len(bad)
        record["fingerprint_mismatches"] = bad

    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        got = res["layers"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        got = res["metrics"]
    metrics = {}
    for name, unit in names:
        v = got.get(name, {}).get("value")
        if v is None:
            if not args.trace:
                raise SystemExit(f"harness reported no {name}")
            v = 0.0  # a layer the workload does not touch
        metrics[name] = {"value": v, "unit": unit}

    record.update(attempted=attempted, failed=failed,
                  wall_clock_s=time.time() - t0, metrics=metrics,
                  all_metrics=res["metrics"], layers=res["layers"])
    records = root / ".bench_build" / "records"
    records.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    (records / f"{tag}.json").write_text(json.dumps(record, indent=1))
    if (work / "spans.jsonl").exists():
        shutil.copy(work / "spans.jsonl", records / f"{tag}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    log(f"run record: {records / (tag + '.json')}")
    for k in ("nproc", "box_cal_s", "java", "spark", "commit"):
        log(f"  {k}: {record.get(k)}")

    correct = failed == 0 and attempted >= 1
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
