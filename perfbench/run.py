#!/usr/bin/env python3
"""graft benchmark: the four-unit streaming pipeline, live and catching up
(`pipeline`), and the batch curation queries (`curation`), measured end to
end and per layer.

Usage, from the repository root:
  python3 perfbench/run.py --workload pipeline|curation --seed N \
      --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (sbt, offline,
into .bench_build/), runs one JVM per invocation, checks the outputs, and
prints one JSON object as the last line of standard output. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BUILD, "results")
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "main", "**", "*"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the invocation."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile with sbt (offline) once per source tree; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building engine + benchmark (sbt, offline)")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    out_path = os.path.join(BUILD, "build.log")
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, stdout=out,
                       stderr=subprocess.STDOUT, env=env)
    with open(out_path) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        log("build failed:\n" + "\n".join(lines[-40:]))
        sys.exit(3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def run_jvm(cp, workload, seed, seconds, trace):
    """One benchmark JVM; returns its parsed result."""
    work = os.path.join(BUILD, "run", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(RESULTS, f"trace-{workload}-{seed}.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--data", DATA, "--out", out,
            "--trace-out", trace_out]
    log_path = os.path.join(BUILD, f"jvm-{workload}-{seed}-{trace}.log")
    try:
        with open(log_path, "w") as fh:
            rc = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=fh,
                           stderr=subprocess.STDOUT)
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM timed out; log: {log_path}")
        sys.exit(4)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = [l for l in fh.read().splitlines() if "WARN" not in l][-40:]
        log(f"benchmark JVM failed (rc={rc}):\n" + "\n".join(tail))
        sys.exit(5)
    with open(out) as fh:
        result = json.load(fh)
    if workload == "curation":
        oracle_check(result, os.path.join(work, "answers"))
    shutil.rmtree(work, ignore_errors=True)
    return result


def oracle_check(result, answers):
    """Every timed query that has a DuckDB oracle is checked against it
    with the digest canonicalization of tools/digest_compare.py. A query
    that errors or mismatches counts as failed."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from digest_compare import TABLES, digest

    with open(os.path.join(answers, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA}/{t}.parquet')")
    errors = result["info"].get("errors", {})
    mismatched = []
    for name, sql in sorted(oracle.items()):
        if name in errors:
            continue
        try:
            src = f"SELECT * FROM read_parquet('{answers}/{name}/*.parquet')"
            cols = sorted(r[0] for r in con.execute(f"DESCRIBE {src}").fetchall())
            ocols = sorted(r[0] for r in con.execute(f"DESCRIBE ({sql})").fetchall())
            ok = cols == ocols and digest(con, src, cols) == digest(con, sql, cols)
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"oracle check {name}: {e}")
            ok = False
        if not ok:
            mismatched.append(name)
    for name in mismatched:
        result["info"]["failures"][f"oracle:{name}"] = 1
    result["failed"] += len(mismatched)
    result["correct"] = result["correct"] and not mismatched
    result["info"]["oracle_checked"] = len(oracle)
    result["info"]["oracle_mismatched"] = mismatched
    result["info"]["failed_share"] = result["failed"] / max(1, result["attempted"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {args.workload}")
        sys.exit(2)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources (src/main/scala/graft) not found: run from the "
            "repository root")
        sys.exit(2)

    cp = build()
    result = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace)
    # Untraced results are kept per build, for the tracing overhead.
    with open(os.path.join(BUILD, "classpath.stamp")) as fh:
        plain_dir = os.path.join(RESULTS, "untraced", fh.read()[:16])
    os.makedirs(plain_dir, exist_ok=True)
    cached = os.path.join(plain_dir, f"{args.workload}-{args.seed}-{args.seconds}.json")
    if args.trace == 0:
        with open(cached, "w") as fh:
            json.dump(result, fh)
        chosen = spec["end_to_end"]
        values = result["e2e"]
    else:
        # Tracing overhead: this traced run against the untraced run of the
        # same workload and seed, else the median of the untraced runs of
        # the workload at this length, else an untraced run made now.
        if os.path.exists(cached):
            plains = [cached]
        else:
            plains = glob.glob(os.path.join(
                plain_dir, f"{args.workload}-*-{args.seconds}.json"))
        if plains:
            bases = []
            for p in plains:
                with open(p) as fh:
                    bases.append(json.load(fh)["e2e"])
        else:
            plain = run_jvm(cp, args.workload, args.seed, args.seconds, 0)
            with open(cached, "w") as fh:
                json.dump(plain, fh)
            bases = [plain["e2e"]]
        values = dict(result["layers"], heap_live_peak_mb=result["e2e"]["heap_live_peak_mb"])
        for m in ("p50_ms", "throughput_per_s"):
            base = statistics.median(b[m] for b in bases)
            values[f"trace.{m}_overhead"] = (
                result["e2e"][m] / base - 1.0 if base else 0.0)
        chosen = spec["per_layer"]

    missing = [m["name"] for m in chosen
               if args.trace == 0 and m["name"] not in values]
    if missing:
        log(f"metrics not measured: {missing}")
        sys.exit(6)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in chosen}
    info = result["info"]
    print(json.dumps({"provenance": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "nproc": info.get("nproc"), "load_before": info.get("load_before"),
        "load_after": info.get("load_after"),
        "canary_s": info.get("canary_s"), "canary_trusted": info.get("canary_trusted"),
        "failed_share": info.get("failed_share"), "failures": info.get("failures"),
        "measured_s": info.get("measured_s"), "check_s": info.get("check_s"),
        "catchup_rates": info.get("catchup_rates"), "pass_s": info.get("pass_s"),
        "query_ms": info.get("query_ms")}}))
    print(json.dumps({"correct": bool(result["correct"]),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
