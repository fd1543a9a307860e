#!/usr/bin/env python3
"""graft benchmark: closed-loop EMF/OLAP workloads against the engine's
public entry points, with every result checked against DuckDB.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
engine from source with sbt (perfbench/build.sbt) into .bench_build/ (or
$CARGO_TARGET_DIR); later runs reuse the build while the sources are
unchanged. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
README.md in this directory defines every metric.
"""
import argparse
import collections
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
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = {
    # fact rows (lineitem) and the whole rounds a run times at least:
    # adhoc blocks of 8 queries, stream rounds of every accepted query,
    # surface passes. 3 blocks and 1 round give 24 ops, the fewest for a
    # tail percentile above the median. Stream splits its fact into
    # STREAM_FILES micro-batch files.
    "adhoc": (60_000, 3),
    "stream": (60_000, 1),
    "surface": (6_000, 2),
}
STREAM_FILES = 4
# The surface workload's subset of SparkEntry.queries: a few entries of
# every provider module, each with an oracle, timed on graft.Bench's
# schedule (see README.md).
SURFACE_ENTRIES = (
    "dedup_substring",
    "emf_q1",
    "graph_pagerank",
    "knn_brute",
    "layout_zorder",
    "multimodal_meta",
    "pack_sequences",
    "profile_columns",
    "range_join",
    "scalar_json",
    "sketch_hll",
    "stream_tumbling",
    "text_tokens",
)
SETUP_REPS = 3
ADHOC_SPECS = 160  # 20 blocks
RUN_LIMIT_S = 175  # the harness JVM of one run
ARCHIVE = "classes.jsa"  # class data sharing archive, beside the build

END_TO_END = {
    "setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "ops_per_s": "1/s", "held_mb": "MiB",
}
# op kinds that count as ops: an adhoc query, a stream micro-batch, a
# surface entry (not its shared-build lines)
OP_KINDS = ("query", "micro", "entry")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(root, "build.sbt")]  # names the Spark jars
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(root, build_dir):
    """Compile with sbt unless the recorded build matches the sources;
    returns the runtime classpath."""
    out = os.path.join(build_dir, "perfbench")
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    # resolve offline from the local caches, as the engine's own build does
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    for stale in (ARCHIVE, ARCHIVE + ".none"):  # it belongs to the old build
        if os.path.exists(os.path.join(out, stale)):
            os.remove(os.path.join(out, stale))
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=850)
        lf.write(proc.stdout)
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and ".jar" in ln), None)
    if proc.returncode != 0 or cp is None:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def class_sharing(cp, conf, work, build_dir):
    """JVM flags for class data sharing. The first run after a build runs
    its workload once more, unmeasured and as short as it can be, and
    dumps the classes that run loaded into an archive. Every measured run
    maps the archive, which cuts JVM and Spark start-up from about 7 s to
    about 2 s on the 4-core box of README.md. A JVM that cannot dump an
    archive runs without one."""
    jsa = os.path.join(build_dir, "perfbench", ARCHIVE)
    if not os.path.exists(jsa) and not os.path.exists(jsa + ".none"):
        run_harness(cp, dict(conf, seconds=0, min_rounds=1, trace=0), work,
                    time.time() + RUN_LIMIT_S, [f"-XX:ArchiveClassesAtExit={jsa}"])
        if not os.path.exists(jsa):
            open(jsa + ".none", "w").close()
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def run_harness(cp, conf, work, deadline, jvm_flags):
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = ["java"] + jvm_flags + [f"-Xmx{mem}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Harness"] + [f"{k}={v}" for k, v in conf.items()]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness failed ({rc}):\n{tail}")


def e2e_metrics(res):
    """End-to-end metrics, plus summary lines: the tail's percentile and
    sample count, stream's batch equivalent and surface's sweep total."""
    timed = [o for o in res["ops"] if o["kind"] in OP_KINDS]
    ok = [o for o in res["ops"] if "err" not in o]
    lat = [o["wall_s"] for o in ok if o["kind"] in OP_KINDS]
    setup = stats.median([s["setup_s"] for s in res["setups"]])
    t, p, n = stats.tail(lat)
    summary = {"tail_percentile": p, "tail_samples": n}
    if res["workload"] == "stream":
        cases = [c for c in res["cases"] if c["case"] >= 0]  # priming case excluded
        wall = sum(c["t1"] - c["t0"] for c in cases) / 1e3
        held = stats.median([o["state_mb"] for o in ok])
        # EmfPlanner over all staged rows, every accepted query once
        rounds = len(cases) / len(res["accepted"])
        summary["round_batch_s"] = sum(c.get("batch_ms", 0) for c in cases) / 1e3 / rounds
    elif res["workload"] == "surface":
        wall = res["timed_ms"] / 1e3
        passes = collections.defaultdict(list)
        for o in ok:
            passes[o["pass"]].append(o)
        held = stats.median([max(o["held_mb"] for o in ps) for ps in passes.values()])
        # graft.Bench's `value`: entry and shared-build lines of one sweep
        summary["total_s"] = stats.median(
            [sum(o["wall_s"] for o in ps) for ps in passes.values()])
        summary["passes"] = len(passes)
    else:
        wall = res["timed_ms"] / 1e3
        held = stats.median([o["held_mb"] for o in ok])
    return {
        "setup_s": res["session_s"] + setup,
        "latency_p50_s": stats.median(lat),
        "latency_tail_s": t,
        "ops_per_s": len(timed) / wall,
        "held_mb": held,
    }, summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {root}/src/main/scala; "
             "run from a full checkout")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = ensure_built(root, build_dir)

    load_start = os.getloadavg()[0]
    work = os.path.join(build_dir, "perfbench", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        fact_rows, min_rounds = WORKLOADS[a.workload]
        t0 = time.time()
        table_rows = gen.make_fixture(data, a.seed, fact_rows,
                                      surface=a.workload == "surface")
        gen_s = time.time() - t0
        queries = []
        if a.workload == "adhoc":
            queries = gen.adhoc_queries(a.seed, ADHOC_SPECS)
            gen.write_specs(os.path.join(work, "specs.txt"), queries)
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc())
        out = os.path.join(work, "result.json")
        conf = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "data": data, "work": work,
                "specs": os.path.join(work, "specs.txt"), "block": len(gen.BLOCK),
                "out": out, "cpus": cpus,
                "reps": SETUP_REPS, "min_rounds": min_rounds, "files": STREAM_FILES,
                "entries": ",".join(SURFACE_ENTRIES)}
        sharing = class_sharing(cp, conf, work, build_dir)
        run_harness(cp, conf, work, time.time() + RUN_LIMIT_S, sharing)
        with open(out) as f:
            res = json.load(f)
        t0 = time.time()
        verdict = checks.check(res, data, queries, cpus)
        check_s = time.time() - t0
        load_end = os.getloadavg()[0]
        fact = res["setups"][-1]["fact_rows"]
        if a.trace:
            metrics, units, summary = layers.per_layer(res)
            values = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            e2e, summary = e2e_metrics(res)
            values = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        if queries:
            ran = {o["q"] for o in res["ops"] if o["kind"] == "query"}
            summary["class_mix"] = dict(collections.Counter(
                c for q in queries if q["id"] in ran for c in q["classes"]))
        attempted = sum(o["kind"] in OP_KINDS for o in res["ops"]) + verdict["extra_attempted"]
        failed = verdict["failed_ops"]
        provenance = dict(res["provenance"],
                          nproc=nproc(), SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS"),
                          SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM", "3g"),
                          seed=a.seed, fact_rows=fact, table_rows=table_rows,
                          source_sha256=source_digest(root), gen_s=round(gen_s, 3),
                          check_s=round(check_s, 3), prime_s=res.get("prime_s"),
                          session_s=res["session_s"], class_sharing=bool(sharing),
                          load1m_start=load_start, load1m_end=load_end)
        print(f"workload {a.workload} seed {a.seed} trace {a.trace}")
        print("provenance " + json.dumps(provenance, sort_keys=True))
        for k, v in summary.items():
            print(f"  {k}: {json.dumps(v, sort_keys=True)}")
        for k, v in values.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
        print(f"  fail_ratio = {failed / attempted if attempted else 1.0:.6g} "
              f"({failed} of {attempted} ops; checks: {verdict['summary']})")
        for line in verdict["problems"][:20]:
            print("  CHECK " + line)
        keep = os.path.join(build_dir, "perfbench", f"last_{a.workload}_trace{a.trace}.json")
        shutil.copyfile(out, keep)
        print(json.dumps({"correct": verdict["ok"],
                          "attempted": attempted, "failed": failed, "metrics": values}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
