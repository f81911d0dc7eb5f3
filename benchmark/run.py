#!/usr/bin/env python3
"""Benchmark of the clxetlspark engine: one run of one workload.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark program
(the engine's sources plus `benchmark/src`) with sbt; later runs reuse the
build while no source has changed. Each run starts one JVM at local[nproc],
sets the workload up, measures it for --seconds, verifies its outputs, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from a traced section measured after an untraced one.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("kline_sync", "kline_stream", "analytics_mix")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
DATA = os.path.join(HERE, "data", "sf0.01")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_digest(root):
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(classpath, *flags):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    return [java] + [x for p in ADD_OPENS
                     for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a fixed heap: with a growable one, peak RSS follows when the
        # collector chose to grow it more than what the program holds
        "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        *flags,
        "-cp", classpath + os.pathsep + os.path.join(spark_home(), "jars", "*"),
        "bench.Main"]


def run_logged(cmd, log, timeout, **popen):
    """Run `cmd`, logging to `log`. Kill it on timeout, or when this process
    is told to stop, and wait for it either way. None on timeout."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, **popen)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)

        previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None
        finally:
            for s, h in previous.items():
                signal.signal(s, h)


def build(root):
    """Package the program with sbt and archive the classes its workloads
    load (JVM class-data sharing), unless both match the current sources.
    Returns (jar, class archive)."""
    target = os.path.join(HERE, "target")
    jar = os.path.join(target, "benchmark.jar")
    jsa = os.path.join(target, "benchmark.jsa")
    stamp = os.path.join(target, "bench-build.stamp")
    digest = source_digest(root)
    if all(os.path.exists(f) for f in (jar, jsa, stamp)):
        with open(stamp) as fh:
            if fh.read() == digest:
                return jar, jsa
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    os.makedirs(target, exist_ok=True)
    deadline = time.time() + BUILD_LIMIT_S
    log = os.path.join(target, "build.log")
    code = run_logged([sbt, "--batch", "-Dsbt.log.noformat=true", "package"],
                      log, deadline - time.time(), cwd=HERE, env=env)
    built = glob.glob(os.path.join(target, "scala-2.13", "*.jar"))
    if code != 0 or len(built) != 1:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (log: {log})")
    shutil.copyfile(built[0], jar)
    work = os.path.join(target, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(jsa):
        os.remove(jsa)
    code = run_logged(java_cmd(jar, f"-XX:ArchiveClassesAtExit={jsa}",
                               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}") + [
        "--train", "--cores", str(len(os.sched_getaffinity(0))),
        "--work", work, "--data", DATA], os.path.join(target, "train.log"),
        deadline - time.time())
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(jsa):
        fail(f"training run for the class archive failed (log: {target}/train.log)")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar, jsa


def run_jvm(args, jar, jsa, work, nproc, deadline):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(jar, f"-XX:SharedArchiveFile={jsa}", f"-Djava.io.tmpdir={tmp}") + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(nproc), "--work", work, "--data", DATA, "--out", out]
    log = os.path.join(work, "jvm.log")
    code = run_logged(cmd, log, deadline - time.time())
    if code is None:
        fail(f"{args.workload} did not finish in time")
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(l for l in fh.readlines()
                                     if "Exception" in l or "Error" in l)[-4000:])
        fail(f"{args.workload} JVM exited with {code}")
    with open(out) as fh:
        return json.load(fh)


def setup_s(rec):
    reps = rec["setup_reps_s"]
    return rec["session_s"] + rec["setup_once_s"] + (stats.median(reps) if reps else 0.0)


# --- end-to-end: op latency samples, throughput, verification -------------

def sync_view(sec):
    venues = len({o["venue"] for o in sec["ops"]})
    ops = sec["ops"]
    passes = [sum(o["sync_s"] + o["readback_s"] for o in ops[i:i + venues])
              for i in range(0, len(ops) - venues + 1, venues)]
    b = sec["backfill"]
    return {"ops": passes, "rows_per_s": b["rows"] / b["seconds"],
            "detail": f"backfill {b['seconds']:.3f}s; sync/read-back " + " ".join(
                f"{o['venue']}:{o['sync_s']:.3f}/{o['readback_s']:.3f}" for o in ops),
            "attempted": sec["attempted"], "failed": sec["failed"],
            "problems": sec["problems"]}


def stream_view(sec):
    files = [(f["due_ms"], f["written_ms"]) for f in sec["files"]]
    batches = [(b["start_ms"], b["end_ms"]) for b in sec["batches"]]
    lags = stats.attribute_lags(files, batches)
    late_ms = max(w - d for d, w in files)
    busy = sum(e - s for s, e in batches) / 1000.0
    problems = []
    lost = sum(1 for x in lags if x is None)
    if lost:
        problems.append(f"{lost} files never ingested")
    if late_ms > sec["tick_ms"]:
        problems.append(f"generator fell behind: {late_ms} ms late")
    return {"ops": [x for x in lags if x is not None], "lags": lags,
            "rows_per_s": sec["rows"] / busy if busy > 0 else 0.0,
            "attempted": sec["attempted"], "failed": sec["failed"] + lost,
            "late_ms": late_ms, "problems": problems}


def expected_hashes():
    """The mix's queries and the hash each one's result must have."""
    with open(os.path.join(HERE, "expected_hashes.json")) as fh:
        return json.load(fh)


def analytics_view(sec):
    want = expected_hashes()
    ex = sec["executions"]
    bad = [e for e in ex if want.get(e["query"]) != e["hash"]]
    passes = {}
    for e in ex:
        passes[e["pass"]] = passes.get(e["pass"], 0.0) + e["seconds"]
    busy = sum(e["seconds"] for e in ex)
    return {"ops": list(passes.values()),
            "rows_per_s": sum(e["rows"] for e in ex) / busy if busy else 0.0,
            "attempted": len(ex), "failed": len(bad),
            "problems": [f"{e['query']}: hash {e['hash']}, expected "
                         f"{want.get(e['query'])}" for e in bad[:10]]}


VIEWS = {"kline_sync": sync_view, "kline_stream": stream_view,
         "analytics_mix": analytics_view}


def end_to_end(rec, v):
    return {
        "setup_s": (setup_s(rec), "s"),
        "peak_rss_mib": (rec["peak_rss_mib"], "MiB"),
        "op_p50_s": (stats.median(v["ops"]), "s"),
        "rows_per_s": (v["rows_per_s"], "1/s"),
    }


# --- per-layer: every layer's metrics, zero where a workload skips it -----

def per_layer(rec, traced, tv):
    t = traced.get("trace", {})
    m = {}
    # sources (kline_sync backfill)
    b = traced.get("backfill", {})
    fetch = t.get("backfill_fetch_s", [])
    m["sources.fetch_calls"] = (len(fetch), "count")
    m["sources.fetch_busy_s"] = (sum(fetch), "s")
    m["sources.fetch_p50_ms"] = (stats.median(fetch) * 1000 if fetch else 0.0, "ms")
    m["sources.fetch_bytes"] = (b.get("fetch_bytes", 0), "bytes")
    m["sources.fetch_failures"] = (b.get("fetch_failures", 0), "count")
    m["sources.normalize_s"] = (t.get("normalize_s", 0.0), "s")
    # gaps (kline_sync hourly passes)
    hourly_plans = t.get("hourly_plan_s", [])
    planned = t.get("windows_planned", 0) - b.get("windows_planned", 0)
    useful = t.get("windows_useful", 0) - b.get("windows_useful", 0)
    m["gaps.plan_s"] = (stats.median(hourly_plans) if hourly_plans else 0.0, "s")
    m["gaps.windows_planned"] = (planned / len(hourly_plans) if hourly_plans else 0.0, "count")
    m["gaps.rows_scanned_per_window"] = (
        t.get("plan_rows_read_hourly", 0) / planned if planned else 0.0, "count")
    m["gaps.useful_window_ratio"] = (useful / planned if planned else 0.0, "ratio")
    # sinks (kline_sync hourly passes, kline_stream batches)
    if rec["workload"] == "kline_sync":
        ws = [o["writes"] for o in traced["ops"]]
        secs = [s for w in ws for s in w["seconds"]]
        rows = sum(w["rows"] for w in ws)
        parts = sum(w["parts"] for w in ws)
        new = sum(o["new_rows"] for o in traced["ops"])
    elif rec["workload"] == "kline_stream":
        secs, rows = t.get("upsert_s", []), t.get("write_rows", 0)
        parts, new = t.get("partitions_rewritten", 0), traced["rows"]
    else:
        secs, rows, parts, new = [], 0, 0, 0
    m["sinks.upsert_s"] = (stats.median(secs) if secs else 0.0, "s")
    m["sinks.partitions_rewritten"] = (parts / len(secs) if secs else 0.0, "count")
    # bytes written over bytes of the new rows at the written mean row size
    m["sinks.write_amplification"] = (rows / new if new else 0.0, "ratio")
    m["sinks.files_per_partition"] = (t.get("files_per_partition", 0.0), "count")
    # streaming (kline_stream)
    bs = traced.get("batches", [])
    lag = tv.get("ops", []) if rec["workload"] == "kline_stream" else []
    tl = stats.tail(lag)
    files = traced.get("files", [])
    gen_end_ms = max((f["due_ms"] for f in files), default=0) + traced.get("tick_ms", 0)
    m["streaming.batch_p50_s"] = (
        stats.median([(x["end_ms"] - x["start_ms"]) / 1000 for x in bs]) if bs else 0.0, "s")
    m["streaming.add_batch_p50_s"] = (
        stats.median([x["add_batch_ms"] / 1000 for x in bs]) if bs else 0.0, "s")
    m["streaming.commit_p50_s"] = (
        stats.median([x["commit_ms"] / 1000 for x in bs]) if bs else 0.0, "s")
    # input rows per batch (progress counts a row once per action that read it)
    m["streaming.rows_per_batch"] = (traced["rows"] / len(bs) if bs else 0.0, "count")
    # files not yet ingested when the generator dropped its last file
    m["streaming.backlog_files_end"] = (sum(
        1 for f, lag in zip(files, tv.get("lags", []))
        if lag is None or f["due_ms"] + lag * 1000 > gen_end_ms), "count")
    m["streaming.gen_late_max_ms"] = (tv.get("late_ms", 0.0), "ms")
    m["streaming.lag_tail_s"] = (tl[0] if tl else 0.0, "s")
    # flows (kline_sync)
    ops = traced.get("ops", []) if rec["workload"] == "kline_sync" else []
    m["flows.backfill_s"] = (b.get("seconds", 0.0), "s")
    m["flows.sync_p50_s"] = (stats.median([o["sync_s"] for o in ops]) if ops else 0.0, "s")
    m["flows.readback_p50_s"] = (
        stats.median([o["readback_s"] for o in ops]) if ops else 0.0, "s")
    # queries / operators (analytics_mix)
    ex = traced.get("executions", []) if rec["workload"] == "analytics_mix" else []
    for q in sorted(expected_hashes()):
        xs = [e["seconds"] for e in ex if e["query"] == q]
        m[f"queries.{q}_s"] = (stats.median(xs) if xs else 0.0, "s")
    for plane in ("market", "curation"):
        per_pass = {}
        for e in ex:
            if e["plane"] == plane:
                per_pass[e["pass"]] = per_pass.get(e["pass"], 0.0) + e["seconds"]
        m[f"queries.{plane}_mix_s"] = (
            stats.median(list(per_pass.values())) if per_pass else 0.0, "s")
    # spark (every workload)
    sp = traced["spark"]
    m["spark.jobs"] = (sp["jobs"], "count")
    m["spark.tasks"] = (sp["tasks"], "count")
    m["spark.shuffle_write_bytes"] = (sp["shuffle_write_bytes"], "bytes")
    m["spark.spill_bytes"] = (sp["spill_bytes"], "bytes")
    m["spark.executor_cpu_s"] = (sp["executor_cpu_s"], "s")
    m["spark.gc_s"] = (sp["gc_s"], "s")
    m["spark.busy_share"] = (sp["busy_share"], "ratio")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine's sources are missing")
    if not os.path.isdir(DATA):
        fail(f"query data missing: {DATA}")
    jar, jsa = build(root)
    deadline = time.time() + RUN_LIMIT_S
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "target", f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(args, jar, jsa, work, nproc, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    view = VIEWS[args.workload]
    u = view(rec["untraced"])
    if not u["ops"] or (args.trace and not view(rec["traced"])["ops"]):
        fail(f"{args.workload}: no op completed")
    problems = list(u["problems"])
    attempted, failed = u["attempted"], u["failed"]
    if args.trace:
        t = view(rec["traced"])
        problems += t["problems"]
        attempted += t["attempted"]
        failed += t["failed"]
        metrics = per_layer(rec, rec["traced"], t)
        metrics["trace.overhead_share"] = (
            stats.median(t["ops"]) / stats.median(u["ops"]) - 1.0, "ratio")
    else:
        metrics = end_to_end(rec, u)
    correct = failed == 0 and not problems
    env = rec["env"]
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} nproc={env['nproc']} jvm={env['jvm']} "
          f"spark={env['spark_version']} conf={json.dumps(env['spark_conf'], sort_keys=True)}")
    tl = stats.tail(u["ops"])
    print(f"# ops={len(u['ops'])} p50={stats.median(u['ops']):.4f}s " + (
        f"tail=p{tl[1]:.1f}:{tl[0]:.4f}s" if tl else "tail=n/a (<11 samples)"))
    print("# samples: " + " ".join(f"{x:.3f}" for x in u["ops"]))
    if "detail" in u:
        print(f"# {u['detail']}")
    for p in problems:
        print(f"# problem: {p}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
