#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds graft and the harness
from source with sbt (into target/ dirs and .bench_build/); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from --seed, runs the workload in one JVM (perfbench/harness),
checks every output, and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
full record (every sample, span and listener record) goes to
.bench_build/results/. See perfbench/README.md.
"""
import argparse
import calendar
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170

_child = None


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(1)


def start_child(cmd, log_path, env=None, cwd=None):
    """Start cmd in its own process group, output to log_path."""
    global _child
    with open(log_path, "w") as log:
        _child = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  cwd=cwd, env=env, start_new_session=True)
    return _child


def wait_child(timeout):
    """Wait for the child; kill its group on timeout (returns None)."""
    global _child
    try:
        return _child.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        return None
    finally:
        _child = None


def run_child(cmd, timeout, log_path, env=None, cwd=None):
    start_child(cmd, log_path, env, cwd)
    return wait_child(timeout)


def _tail(path, n=20):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    pats = ["build.sbt", "project/*.sbt", "project/*.properties",
            "src/main/**/*", "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*"]
    h = hashlib.sha256()
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    print("perfbench: building graft and the harness with sbt", file=sys.stderr)
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], 850, log, env=env, cwd=HARNESS)
    if rc != 0:
        fail(f"build failed (exit {rc}); last lines of {log}:\n{_tail(log)}", 3)
    with open(log) as f:
        found = [l.strip() for l in f if "harness" in l and os.pathsep in l
                 and not l.startswith("[")]
    cp = found[-1] if found else ""
    if not cp:
        fail(f"could not read the classpath from {log}", 3)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def generate(wl, seed, data):
    """Write the workload's inputs; return the counts they hold."""
    fx = wl["fixture"]
    expected = {"tables": gen.write_fixture(seed, fx["sf"], os.path.join(data, "fixture"),
                                            fx.get("rows"))}
    if "users" in wl:
        u = wl["users"]
        expected["users"] = gen.write_users(
            seed, u["files"], u["rows_per_file"], os.path.join(data, "users_csv"),
            os.path.join(data, "users_parquet"))
    return expected


def stream_info(raw, expected):
    """Per-batch durations and per-file lag (scheduled arrival to the
    commit of the batch that read the file, via the checkpoint's source
    log)."""
    st = raw.get("stream")
    if not st:
        return None
    batches, commit = [], {}
    for p in st["progress"]:
        t = time.strptime(p["timestamp"][:19], "%Y-%m-%dT%H:%M:%S")
        start = calendar.timegm(t) + float("0" + p["timestamp"][19:-1])
        d = p["durationMs"]
        commit[p["batchId"]] = start + d.get("triggerExecution", 0) / 1e3
        batches.append({"id": p["batchId"], "rows": p["numInputRows"], "durations": d})
    batch_of = {}
    for f in glob.glob(os.path.join(st["checkpoint"], "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    batch_of[os.path.basename(e["path"])] = e["batchId"]
    lags = [commit[batch_of[d["file"]]] - d["due"] for d in st["drops"]
            if d["file"] in batch_of and batch_of[d["file"]] in commit]
    return {"batches": batches, "lags": lags, "consumed": len(batch_of),
            "dropped": len(st["drops"]),
            "dropper_late_max_s": max((d["dropped"] - d["due"] for d in st["drops"]),
                                      default=0.0),
            "users_rows": expected["users"]["rows"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    t_start = time.time()

    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    wl = cfg["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload!r}; known: {sorted(cfg['workloads'])}", 2)
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a graft checkout", 2)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    cp = build()

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run(args, wl, cp, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run(args, wl, cp, work, t_start):
    data = os.path.join(work, "inputs")
    calls = list(wl["calls"])
    random.Random(args.seed).shuffle(calls)
    out = os.path.join(work, "raw.json")
    hargs = [f"workload={args.workload}", f"data={data}/fixture", f"work={work}",
             f"out={out}", f"seconds={args.seconds}", f"trace={args.trace}",
             f"cores={os.cpu_count()}",
             "calls=" + ",".join(calls)]
    if "users" in wl:
        s = wl["stream"]
        hargs += [f"users_csv={data}/users_csv", f"users_parquet={data}/users_parquet",
                  f"files={s['files']}", f"rate={s['rate_per_s']}",
                  f"max_files={s['max_files_per_trigger']}"]
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           *ADD_OPENS, "-cp", cp, "perfbench.Harness", *hargs]
    # the JVM starts while the inputs are generated; it waits for READY
    log = os.path.join(work, "harness.log")
    launch = time.time()
    start_child(cmd, log)
    try:
        expected = generate(wl, args.seed, data)
    except BaseException:
        wait_child(0)
        raise
    open(os.path.join(data, "READY"), "w").close()
    rc = wait_child(RUN_LIMIT_S - (time.time() - t_start))
    if rc != 0 or not os.path.exists(out):
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}:\n{_tail(log)}", 4)
    with open(out) as f:
        raw = json.load(f)

    # ---- correctness
    problems = {}
    era_calls = [c for c in raw["calls"] if c["name"] in metrics.ERAS]
    queries = [n for n in calls if n not in metrics.ERAS]
    for c in raw["calls"]:
        if c["error"]:
            problems.setdefault(c["name"], f"threw: {c['error']}")
    problems.update(check.check_queries(
        f"{data}/fixture", raw["check"]["dir"], queries, raw["check"]["oracle_sql"],
        wl.get("rows_checks", {}), expected["tables"]))
    wrong = set()
    for c in era_calls:
        p = check.check_era(c["name"], c["result"], expected["users"])
        if p:
            problems.setdefault(c["name"], p)
            wrong.add((c["pass"], c["name"]))
    sinfo = None
    stream_failed = 0
    if "users" in wl:
        p = check.check_rejects(raw["check"]["eras_dir"], expected["users"])
        if p:
            problems.setdefault("validated2018", p)
            wrong.update((c["pass"], c["name"]) for c in era_calls
                         if c["name"] == "validated2018")
        sinfo = stream_info(raw, expected)
        n = wl["stream"]["files"]
        p = check.check_stream(raw["stream"]["out"], sinfo["consumed"],
                               sum(expected["users"]["valid_per_file"][:n]))
        if p or sinfo["consumed"] != n:
            problems["streaming2025"] = p or f"consumed {sinfo['consumed']} of {n} files"
            stream_failed = n

    # a timed call fails if it threw, returned wrong counts, or is a query
    # whose checked output is wrong
    timed = [c for c in raw["calls"] if c["pass"] >= 0]
    attempted = len(timed) + (wl["stream"]["files"] if "users" in wl else 0)
    failed = stream_failed + sum(
        1 for c in timed if c["error"] or (c["pass"], c["name"]) in wrong
        or (c["name"] in queries and c["name"] in problems))

    # ---- metrics
    e2e, counts = metrics.end_to_end(raw, launch)
    layer = {}
    if args.trace:
        layer = metrics.per_layer(raw, wl["calls"], sinfo)
        layer["fail_ratio"] = (failed / attempted, "ratio")
    chosen = layer if args.trace else e2e
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "calls": calls, "problems": problems,
              "attempted": attempted, "failed": failed, "samples": counts,
              "end_to_end": metrics.fmt(e2e), "per_layer": metrics.fmt(layer),
              "stream": sinfo, "raw": raw}
    path = os.path.join(BUILD, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f)
    for name, p in sorted(problems.items()):
        print(f"perfbench: FAILED {name}: {p}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} passes={counts['passes']} "
          f"latency samples={counts['latency_samples']} attempted={attempted} "
          f"failed={failed} -> {path}", file=sys.stderr)
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": metrics.fmt(chosen)}


if __name__ == "__main__":
    main()
