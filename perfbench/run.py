#!/usr/bin/env python3
"""End-to-end benchmark of graft.

    python3 perfbench/run.py --workload warehouse|corpus --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
harness with sbt; later runs reuse the build while the sources are
unchanged. Each run starts clean, generates and stages its inputs, runs
one workload in a fresh JVM, checks the outputs against the DuckDB
oracle (tools/crosscheck.py), and prints the metrics: human-readable
lines first, then one JSON object as the last line. See README.md.
"""
import argparse
import concurrent.futures
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CROSSCHECK = os.path.join(ROOT, "tools", "crosscheck.py")
sys.path.insert(0, HERE)
import fixtures  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("warehouse", "corpus")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# what spark-submit adds for Spark 4 on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt if the sources changed; returns the JVM classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Xmx3g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "perfbench/compile",
           "export perfbench/Runtime/fullClasspath"]
    with open(os.path.join(WORK, "build.log"), "w") as out:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=out, text=True, timeout=840)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.exit(f"build failed (see {os.path.join(WORK, 'build.log')})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def head_id():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "source-" + source_digest()[:16]


def run_jvm(cp, args, run_dir):
    jvm_dir = os.path.join(run_dir, "jvm")
    os.makedirs(os.path.join(jvm_dir, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(jvm_dir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=jvm_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"workload timed out after {JVM_TIMEOUT_S}s")
    if rc != 0:
        sys.exit(f"workload JVM exited {rc} (see {os.path.join(run_dir, 'jvm.log')})")


def flat_fixture_dir(group, base, overrides):
    """A fixture dir for the oracle: the base tables, with the tables a
    chained stage replaced taken from that stage's output."""
    sf = os.path.join(group, "_sf")
    os.makedirs(sf)
    for t in fixtures.TABLES:
        dst = os.path.join(sf, f"{t}.parquet")
        if t in overrides:
            parts = glob.glob(os.path.join(overrides[t], "*.parquet"))
            shutil.copyfile(parts[0], dst)
        else:
            os.symlink(os.path.join(base, f"{t}.parquet"), dst)
    return sf


def file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def output_digest(path):
    """Order-independent digest of a parquet output: its sorted rows."""
    t = pq.read_table(path)
    rows = sorted(json.dumps(r, sort_keys=True, default=str) for r in t.to_pylist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def check_group(check, raw, verified):
    """Checks one oracle group with tools/crosscheck.py. The inputs are
    the same rows in every run, so the oracle's answer is too; an output
    whose row digest already passed for the same oracle SQL, input bytes
    and crosscheck.py is not sent to DuckDB again (the DuckDB oracle of
    dedup_prune alone takes about 17 s).
    Returns {entry: (digest, key, passed, sent to DuckDB)}."""
    group = check["dir"]
    oracle = json.load(open(os.path.join(group, "oracle_sql.json")))
    sf = flat_fixture_dir(group, raw, check["overrides"])
    inputs = "".join(file_digest(p) for p in [CROSSCHECK] + [
        os.path.join(sf, f"{t}.parquet") for t in fixtures.TABLES])
    res = {}
    for e, sql in oracle.items():
        key = hashlib.sha256((sql + inputs).encode()).hexdigest()
        d = output_digest(os.path.join(group, e))
        res[e] = (d, key, verified.get(key) == d, False)
    todo = {e: oracle[e] for e, (_, _, ok, _) in res.items() if not ok}
    if todo:
        with open(os.path.join(group, "oracle_sql.json"), "w") as f:
            json.dump(todo, f)
        proc = subprocess.run([sys.executable, CROSSCHECK, group, sf],
                              capture_output=True, text=True, timeout=150)
        with open(os.path.join(group, "crosscheck.log"), "w") as f:
            f.write(proc.stdout + proc.stderr)
        ok = next((l.split(":", 1)[1].split() for l in proc.stdout.splitlines()
                   if l.startswith("OK (")), [])
        for e in todo:
            res[e] = (res[e][0], res[e][1], e in ok, True)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "crosscheck.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"graft sources not found: {os.path.join(ROOT, need)} is missing")

    cp = build()
    t_start = time.time()
    run_dir = os.path.join(WORK, "run")
    nfiles = len(os.sched_getaffinity(0))

    # ---- setup (timed): remove everything an earlier run left (the
    # warehouse, stream sinks, checkpoints, state, truth artifacts), then
    # generate and stage the inputs; the JVM adds session start
    t0 = time.time()
    shutil.rmtree(run_dir, ignore_errors=True)
    raw, staged = os.path.join(run_dir, "fixtures"), os.path.join(run_dir, "staged")
    fixtures.generate(raw)
    fixtures.stage(raw, staged, nfiles, a.seed)
    out = os.path.join(run_dir, "record.json")
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--fixtures", raw, "--staged", staged,
                 "--work", os.path.join(run_dir, "work"), "--out", out], run_dir)
    t_jvm = time.time()
    rec = json.load(open(out))
    setup_s = rec["session_ready_epoch_ms"] / 1e3 - t0

    # ---- correctness, outside every timed region
    t_check = time.time()
    verified_file = os.path.join(WORK, "oracle_verified.json")
    verified = json.load(open(verified_file)) if os.path.exists(verified_file) else {}
    with concurrent.futures.ThreadPoolExecutor(len(rec["checks"]) or 1) as pool:
        results = list(pool.map(lambda c: check_group(c, raw, verified), rec["checks"]))
    mismatched, sent = [], 0
    for check, res in zip(rec["checks"], results):
        for e, (d, key, ok, to_duckdb) in sorted(res.items()):
            name = f"{os.path.basename(check['dir'])}/{e}"
            log(f"[digest] {name} {d} {'ok' if ok else 'MISMATCH'}")
            sent += to_duckdb
            if ok:
                verified[key] = d
            else:
                mismatched.append(name)
    with open(verified_file, "w") as f:
        json.dump(verified, f)
    log(f"[check] {sum(len(r) for r in results)} outputs, {sent} sent to DuckDB")
    ms = 1e3
    log(f"[wall] set-up {setup_s:.1f} s, session and measured {rec['measured_end_epoch_ms'] / ms - rec['session_ready_epoch_ms'] / ms:.1f} s, "
        f"oracle dumps {(rec['dumped_epoch_ms'] - rec['measured_end_epoch_ms']) / ms:.1f} s, "
        f"JVM exit {t_jvm - rec['dumped_epoch_ms'] / ms:.1f} s, crosscheck {time.time() - t_check:.1f} s, "
        f"total {time.time() - t_start:.1f} s")
    failures = rec["failures"] + [f"oracle mismatch: {m}" for m in mismatched]
    attempted = rec["attempted"]
    failed = len(failures)

    fp = {"nproc": rec["cores"], "heap_max_mb": rec["heap_max_bytes"] / report.MB,
          "spark": rec["spark_version"], "head": head_id()}
    log(f"[fingerprint] {json.dumps(fp)} start={json.dumps(rec['fingerprint_start'])} "
        f"end={json.dumps(rec['fingerprint_end'])}")
    for f in failures:
        log(f"[failure] {f}")
    log(f"[ops] attempted={attempted} failed={failed} "
        f"failed_op_ratio={failed / max(attempted, 1)}")
    steps = rec["steps"]
    tail = report.tail_percentile(steps)
    log(f"[steps] n={len(steps)} p50={report.median(steps)} " +
        (f"p{round(tail[0] * 100)}={tail[1]}" if tail else
         f"no tail percentile published: fewer than {report.MIN_BEYOND} samples beyond p75"))

    if a.trace:
        metrics = report.per_layer(rec)
        for name, (v, unit) in sorted(report.layer_detail(rec).items()):
            log(f"[layer] {name} {v} {unit}")
        selfs = report.self_times(rec["spans"])
        root = report.root_span(rec["spans"])
        log(f"[trace] spans={len(rec['spans'])} wall_s={(root['end'] - root['start']) / 1e9} "
            f"self_sum_s={sum(selfs.values()) / 1e9}")
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump([dict(s, self=selfs[s["id"]]) for s in rec["spans"]], f)
        last = os.path.join(WORK, f"untraced_{a.workload}.json")
        if os.path.exists(last):
            u = json.load(open(last))
            for k in ("batch_s", "step_p50_s"):
                log(f"[trace] overhead {k}: traced {metrics['trace.' + k]['value']} - "
                    f"untraced {u[k]['value']} = {metrics['trace.' + k]['value'] - u[k]['value']}")
    else:
        metrics = report.end_to_end(rec, setup_s)
        with open(os.path.join(WORK, f"untraced_{a.workload}.json"), "w") as f:
            json.dump(metrics, f)
    for name, m in metrics.items():
        log(f"[metric] {name} {m['value']} {m['unit']}")
    print(report.result_line(failed == 0, attempted, failed, metrics), flush=True)


if __name__ == "__main__":
    main()
