#!/usr/bin/env python3
"""graft's benchmark: one command, three workloads, end-to-end metrics
checked against reference outputs, and a traced run for per-layer metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 24 --trace 0

Run it from the repository root. It builds graft and the harness from
source with sbt (once per source state), starts one JVM with a Spark
`local[nproc]` session and a fixed heap, and prints, as its last three
lines: the run's provenance, one compact line of every metric, and one
JSON object with `correct`, `attempted`, `failed` and `metrics`.

Workloads (see BENCHMARK.json for why each was chosen):
  catalog     17 SparkEntry.queries entries, at least one from each
              operator module plus the dedup and ann pair kernels
              (listed in reference/catalog.tsv), on the committed sf0.01
              corpus; a warm-up pass, then four passes, each query's
              median (per-job fixed cost). The seed does not apply:
              the corpus is fixed.
  cdc_ingest  OGG change lines derived from the committed events table
              (ten replicas merged in an order the seed sets) through
              CdcStream into SnapshotStore: catch-up drain, live open
              loop, then range lookups.
catalog's pass count is fixed: --seconds sizes only cdc_ingest's read
phase.
Batch queries run cold: SQL cache, persisted RDDs and landed tables are
dropped before each one, outside the timer. The timer covers the builder
call and a noop-sink write; the write carries an Observation that counts
and hashes the output rows, which are checked against reference/*.tsv.

End-to-end metrics (--trace 0) are defined for every workload:
  setup_s           session start + registration + warm-up, once, in the
                    run's fresh JVM, up to the first timed operation
                    (catalog's warm-up is a whole pass)
  work_s            catalog: the sum of per-query walls, each query's
                    median pass; cdc_ingest: the catch-up drain wall
  op_p50_s/op_p90_s catalog: per-query wall, each query's median pass;
                    cdc_ingest: one readRange lookup, collected
  lag_p50_s/lag_p90_s  time from when work was due to its result:
                    cdc_ingest: a live file, due time to the end of the
                    micro-batch that committed it; catalog: every
                    query of a pass is due at its start, each
                    query's median pass
  heap_retained_mb  heap in use after a full GC at the end of timing
  bytes_per_row     cdc_ingest: store bytes per live snapshot row;
                    catalog: bytes landed per output row
Failures and wrong outputs are counted in `failed` against `attempted`
(queries, micro-batches, lookups and the final store check).

`--trace 1` attaches SparkListener, QueryExecutionListener and
StreamingQueryListener, reports the per-layer metrics instead, and
writes its spans to perfbench/.out/. Its trace.work_s against the
untraced work_s of the same seed is the tracing overhead.

Each run owns one scratch directory under perfbench/.run/ (tmpdir,
Spark local dirs, warehouse, checkpoints, stores), deleted at exit.
Generated inputs are made by a JVM of their own, before the measured
one, and cached per source state and seed under perfbench/.inputs/.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("catalog", "cdc_ingest")
E2E = ("setup_s", "work_s", "op_p50_s", "op_p90_s", "lag_p50_s", "lag_p90_s",
       "heap_retained_mb", "bytes_per_row")
XMX = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 needs these outside spark-submit; the root build.sbt
# passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Generated or cached state that a run may leave behind on purpose.
OWN_DIRS = (".run", ".inputs", ".out", ".build", "target", "project")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             ROOT / "project" / "build.properties", BENCH / "project" / "build.properties"]
    files += sorted(ROOT.glob("project/*.sbt"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_sha():
    h = hashlib.sha256()
    for p in source_files():
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(sha):
    """Compile graft and the harness; return the runtime classpath."""
    out = BENCH / ".build"
    stamp, cp_file = out / "source.sha", out / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == sha:
        return cp_file.read_text().strip()
    out.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = out / "build.log"
    with open(log, "w") as f:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
    lines = log.read_text().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (sbt exit {rc}); log in {log}")
    cp_file.write_text(cps[-1])
    stamp.write_text(sha)
    return cps[-1]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def entries():
    return {p for d in (ROOT, BENCH) for p in d.iterdir()}


def clear_stale_runs(runs):
    """Remove what runs killed before their cleanup left behind."""
    for d in runs.glob("*"):
        try:
            os.kill(int(d.name.split(".")[0]), 0)
        except (ValueError, ProcessLookupError):
            if d.is_dir():
                shutil.rmtree(d, ignore_errors=True)
            else:
                d.unlink(missing_ok=True)
        except PermissionError:
            pass


def run_jvm(args, cp, run_dir, cores, inputs, deadline, prepare=False):
    # Each JVM starts from an empty run directory.
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = run_dir / "tmp", run_dir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    out_json = run_dir / "result.json"
    spans = BENCH / ".out" / f"trace-{args.workload}-{args.seed}.json"
    if args.trace:
        spans.parent.mkdir(exist_ok=True)
    ref = BENCH / "reference" / f"{args.workload}.tsv"
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "1" if args.trace else "0",
        "--cores", str(cores), "--data", str(BENCH / "data"),
        "--inputs", str(inputs), "--run", str(run_dir),
        "--out", str(out_json), "--reference", str(ref)]
    if prepare:
        cmd += ["--prepare"]
    elif args.trace:
        cmd += ["--spans-out", str(spans)]
    if args.write_reference:
        cmd += ["--write-reference"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    log = run_dir.parent / f"{run_dir.name}.log"
    try:
        with open(log, "w") as f:
            p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=f, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=None if args.write_reference
                            else max(1.0, deadline - time.monotonic()))
            except BaseException:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise
        text = log.read_text(errors="replace")
    finally:
        log.unlink(missing_ok=True)
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if rc != 0 or not (prepare or out_json.exists()):
        sys.stderr.write("\n".join(text.splitlines()[-40:]) + "\n")
        die(f"benchmark JVM exited with {rc}")
    return None if prepare else json.loads(out_json.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-reference", action="store_true",
                    help="record every pass's outputs into perfbench/reference/; a value "
                         "that differs between passes or runs is marked unchecked")
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no graft sources next to {BENCH.name}/ (run from a full checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    sha = source_sha()
    cp = build(sha)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    cores = len(os.sched_getaffinity(0))
    runs = BENCH / ".run"
    runs.mkdir(exist_ok=True)
    clear_stale_runs(runs)
    before = entries()
    run_dir = runs / str(os.getpid())

    def on_term(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)
    # Inputs are cached per source state, so a changed generator remakes them.
    inputs = BENCH / ".inputs" / sha / args.workload / f"seed-{args.seed}"
    try:
        if args.workload != "catalog" and not inputs.exists():
            run_jvm(args, cp, run_dir, cores, inputs, deadline, prepare=True)
        r = run_jvm(args, cp, run_dir, cores, inputs, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    leaked = sorted(str(p.relative_to(ROOT)) for p in entries() - before
                    if p.name not in OWN_DIRS)
    failed = r["failed"]
    if leaked:
        print(f"perfbench: the run left {leaked} behind", file=sys.stderr)
        failed += 1

    info = r["info"]
    prov = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "commit": git_commit(), "source_sha": sha,
            "nproc": cores, "master": info.get("master"), "xmx_mb": info.get("xmx_mb"),
            "spark": info.get("spark_version"),
            **{k: v for k, v in info.items() if k not in ("master", "xmx_mb", "spark_version")}}
    print("perfbench provenance " + json.dumps(prov, separators=(",", ":")))
    metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in r["metrics"].items()}
    if not args.trace:
        missing = [m for m in E2E if m not in metrics]
        if missing:
            die(f"missing metrics {missing}")
    print(f"perfbench {args.workload} seed={args.seed} n={r['attempted']} failed={failed} " +
          " ".join(f"{k}={v['value']:.6g}" for k, v in metrics.items()))
    print(json.dumps({"correct": failed == 0 and r["attempted"] > 0,
                      "attempted": r["attempted"], "failed": failed, "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
