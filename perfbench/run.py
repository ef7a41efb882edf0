#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the harness and
the graft sources with sbt (offline); later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed once and
cached under .bench_build/inputs. Each run starts a fresh JVM on
GraftSession at local[nproc] and drives one workload from one thread.

The last line of stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1). Lines before it print every metric by name and
unit, the output checks, and the environment; the full record (every
operation, span summary and check) is written to .bench_build/results.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import metrics as M  # noqa: E402

HEAP = "2g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
KEEP_SEEDS = 6
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, n) for n in sorted(names)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; returns the runtime
    classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    out_lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not out_lines or ".jar" not in out_lines[-1]:
        with open(log, "a") as out:
            out.write(p.stdout)
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = out_lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def prune_inputs(keep_dir):
    root = os.path.join(STATE, "inputs")
    seeds = sorted((os.path.getmtime(os.path.join(root, d)), d) for d in os.listdir(root)
                   if os.path.isdir(os.path.join(root, d)))
    for _, d in seeds[:-KEEP_SEEDS]:
        if os.path.join(root, d) != keep_dir:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().split()[:3]
    except OSError:
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def launch(cp, args, seed_dir, n_cores):
    """One harness JVM in a fresh work directory; returns (result, work)."""
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n_cores),
               SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = [java(), f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *ADD_OPENS,
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--inputs", seed_dir, "--work", work,
           "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--seed", str(args.seed), "--cores", str(n_cores)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        launch_ns = time.time_ns()
        p = subprocess.Popen(cmd + ["--launch-ns", str(launch_ns)], cwd=work, env=env,
                             stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"{args.workload} JVM failed ({code}):\n{tail}", code=1)
    with open(out) as fh:
        return json.load(fh), work


def run_checks(args, seed_dir, manifest, result, work):
    """Returns (failures, failed_ops, figures)."""
    ops = result["ops"]
    w = args.workload
    if w == "dashboard":
        return (*checks.check_dashboard(seed_dir, work, result), {})
    if w == "curate":
        n = sum(1 for o in ops if not o["error"])
        if n == 0:
            return [], 0, {}
        quota = result["extra"]["quota"]
        return (*checks.check_curate(seed_dir, work, manifest, quota, n), {})
    return checks.check_ingest(seed_dir, work, result)


def items(args, manifest, timed):
    """Requests (dashboard), input docs through the whole pipeline
    (curate) or through the drained stream (ingest)."""
    if args.workload == "curate":
        return manifest["inputs"]["curate"]["corpus_rows"] * len(timed)
    if args.workload == "ingest":
        return inputs.INGEST_DOCS_PER_FILE * len(timed)
    return len(timed)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=M.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from the root of a full checkout")
    load_before = loadavg()
    cp = build()
    seed_dir, manifest = inputs.stage(os.path.join(STATE, "inputs"), args.seed)
    prune_inputs(seed_dir)
    n_cores = cores()

    result, work = launch(cp, args, seed_dir, n_cores)

    failures, failed_ops, figures = run_checks(args, seed_dir, manifest, result, work)
    ops = result["ops"]
    errors = [o for o in ops if o["error"]]
    failures += [f"{o['kind']} op failed: {o['error']}" for o in errors[:5]]
    failed = min(len(ops), len(errors) + failed_ops)
    timed = [o for o in ops if o["window"] and not o["error"]]
    if not timed:
        failures.append("no operation in the window succeeded")
    lat = [o["ms"] for o in timed]
    seconds = sum(lat) / 1e3
    e2e = {
        "setup_s": result["setup_s"],
        "op_p50_ms": statistics.median(lat) if lat else 0.0,
        "items_per_s": items(args, manifest, timed) / seconds if seconds else 0.0,
    }
    specific = {"fail_ratio": failed / max(len(ops), 1)}
    if args.workload in ("dashboard", "ingest"):
        specific["op_p90_ms"] = (statistics.quantiles(lat, n=10, method="inclusive")[8]
                                 if len(lat) > 1 else max(lat, default=0.0))
        specific["ops_beyond_p90"] = sum(1 for x in lat if x > specific["op_p90_ms"])
    for o in ops:
        if o["kind"] == "train":
            specific["train_s"] = o["ms"] / 1e3
        elif o["kind"] == "predict":
            specific["predict_ms"] = o["ms"]
    if args.workload == "ingest":
        specific["stored_bytes_per_byte"] = figures["streaming.stored_bytes_per_byte"]

    if args.trace:
        layers = dict(result["layers"]["metrics"])
        layers.update(figures)
        out_metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                                   "unit": m["unit"]} for m in M.PER_LAYER}
    else:
        out_metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in M.END_TO_END}

    env = {
        "nproc": os.cpu_count(), "local": f"local[{n_cores}]", "heap": HEAP,
        "heap_max_bytes": result.get("heap_max_bytes"),
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "commit": git_commit(), "source_stamp": source_stamp()[:16],
        "seed": args.seed, "inputs": manifest["inputs"],
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "end_to_end": e2e, "workload_metrics": specific,
        "session_s": result["session_s"], "figures": figures, "failures": failures,
        "ops": ops, "extra": result.get("extra"),
        "layers": result.get("layers"),
    }
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    rec_path = os.path.join(STATE, "results",
                            f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"{len(ops)} ops  local[{n_cores}] of nproc {os.cpu_count()}  heap {HEAP}  "
          f"loadavg {load_before} -> {env['loadavg_after']}  commit {env['commit']}")
    print(f"inputs {json.dumps(manifest['inputs'])}")
    units = {m["name"]: m["unit"] for m in M.END_TO_END + M.PER_LAYER + M.WORKLOAD_SPECIFIC}
    shown = {**e2e, **specific}
    if args.trace:
        shown.update({k: v["value"] for k, v in out_metrics.items()})
    for name, value in shown.items():
        print(f"  {name:40s} {value:14.4f} {units.get(name, '')}")
    print(f"checks: {'pass' if not failures else 'FAIL'}  "
          f"({failed} of {len(ops)} operations failed)")
    for f in failures[:10]:
        print(f"  {f}")
    print(f"record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({"correct": not failures, "attempted": max(len(ops), 1),
                      "failed": failed, "metrics": out_metrics}))


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


if __name__ == "__main__":
    main()
