#!/usr/bin/env python3
"""Benchmark of the graft extraction engine and its operator suite.

Builds the engine from the checkout's sources together with the harness in
perfbench/src (sbt, offline), then runs one workload in a fresh JVM at
local[4] and prints its report; the last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}.

  python3 perfbench/run.py --workload extract_flagship --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --workload operator_suite --seed 1 --seconds 10 --trace 1
  python3 perfbench/run.py --all --seed 1 --seconds 10      # all three workloads, one table
  python3 perfbench/run.py --self-test                      # gate and listener self-tests

See perfbench/README.md for the workloads, metrics and the layer map.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["extract_flagship", "extract_resumable", "operator_suite"]
RUN_TIMEOUT_S = 175
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's sources and resources, and
    the harness with its build definition."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_sha256():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed since the last build;
    returns the runtime classpath."""
    stamp = os.path.join(BENCH, "target", "perfbench-build.json")
    digest = source_sha256()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            old = json.load(fh)
        if old.get("sources") == digest and all(
                os.path.exists(p) for p in old["classpath"].split(os.pathsep)):
            return old["classpath"], digest
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath, digest


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or None


def declared_metrics():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def run_jvm(classpath, digest, workload, seed, seconds, trace, extra=(),
            timeout=RUN_TIMEOUT_S):
    """One workload in a fresh JVM. Returns (exit code, stdout lines,
    result record)."""
    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--out", out,
        "--expected", os.path.join(BENCH, "expected.tsv"),
        "--data", os.path.join(BENCH, "data", "sf0.001")] + list(extra))
    try:
        p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                           timeout=timeout)
        code, text = p.returncode, p.stdout
    except subprocess.TimeoutExpired as e:  # the child is killed and reaped
        log(f"{tag}: killed after {timeout} s")
        code = 124
        text = (e.stdout.decode() if isinstance(e.stdout, bytes) else e.stdout or "") + "\n"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    record = None
    rpath = os.path.join(out, "result.json")
    if os.path.exists(rpath):
        with open(rpath) as fh:
            record = json.load(fh)
        record["info"]["commit"] = git_commit()
        record["info"]["source_sha256"] = digest
        with open(rpath, "w") as fh:
            json.dump(record, fh, indent=1)
    return code, lines, record


def check_line(line, trace):
    """The last line must be the result object with the declared metrics."""
    try:
        obj = json.loads(line)
    except ValueError:
        return "last line is not JSON"
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        return f"unexpected keys {sorted(obj)}"
    declared = declared_metrics()
    if declared is not None:
        want = declared[1] if trace else declared[0]
        got = {k: v["unit"] for k, v in obj["metrics"].items()}
        if got != want:
            return f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}"
    return None


def single(args, classpath, digest):
    code, lines, _ = run_jvm(classpath, digest, args.workload, args.seed,
                             args.seconds, args.trace)
    for l in lines:
        print(l)
    sys.stdout.flush()
    problem = check_line(lines[-1] if lines else "", args.trace)
    if problem:
        log(problem)
        return code or 4
    return code


def all_workloads(args, classpath, digest):
    rows, worst = [], 0
    for w in WORKLOADS:
        code, lines, rec = run_jvm(classpath, digest, w, args.seed, args.seconds, args.trace)
        for l in lines[:-1]:
            print(l)
        worst = worst or code
        if rec is None:
            rows.append((w, "run failed", float("nan"), "", f"exit {code}"))
            continue
        for r in rec["report"]:
            rows.append((w, r["name"], r["value"], r["unit"], r["note"]))
        rows.append((w, "failed_ratio", rec["info"]["failed_ratio"], "ratio",
                     f"{rec['failed']} of {rec['attempted']} operations; correct={rec['correct']}"))
    print(f"== all workloads, seed {args.seed}, {args.seconds} s per run")
    for w, n, v, u, note in rows:
        print(f"{w:18s} {n:22s} {v:14.4f} {u:6s} {note}")
    return worst


def self_test(classpath, digest):
    """A wrong expected digest must be reported as failed and exit non-zero;
    a normal run must pass every gate, including the listener repeat."""
    ok = True
    code, lines, rec = run_jvm(classpath, digest, "extract_flagship", 1, 1, 0,
                               ["--inject-wrong-digest", "1"])
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    bad_caught = code != 0 and last is not None and not last["correct"] and last["failed"] > 0
    print(f"self-test wrong digest -> failed and exit {code}: {'PASS' if bad_caught else 'FAIL'}")
    ok &= bad_caught
    code, lines, rec = run_jvm(classpath, digest, "extract_flagship", 1, 1, 0)
    gates = {g["name"]: g for g in (rec or {}).get("gates", [])}
    rep = gates.get("listener_counts_repeat", {})
    print(f"self-test listener counts repeat across passes: {'PASS' if rep.get('ok') else 'FAIL'}"
          f" ({rep.get('detail')})")
    clean = code == 0 and rec is not None and rec["correct"]
    print(f"self-test clean run passes every gate: {'PASS' if clean else 'FAIL'}")
    ok &= bool(rep.get("ok")) and clean
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, print one table")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", help="print expectation rows: 'suite' or 'extract:<seeds>'")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"engine sources not found under {ROOT}/src/main/scala/graft")
        return 2
    if shutil.which("java") is None or shutil.which("sbt") is None:
        log("java and sbt are required")
        return 2
    classpath, digest = build()
    if args.self_test:
        return self_test(classpath, digest)
    if args.record:
        code, lines, _ = run_jvm(classpath, digest, "record", 0, 0, 0,
                                 ["--record", args.record], timeout=3600)
        print("\n".join(lines))
        return code
    if args.all:
        return all_workloads(args, classpath, digest)
    if not args.workload:
        ap.error("--workload is required")
    return single(args, classpath, digest)


if __name__ == "__main__":
    sys.exit(main())
