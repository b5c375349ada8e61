#!/usr/bin/env python3
"""Seeded benchmark of the engine: one command per workload.

  python3 perfbench/run.py --workload serve_gold --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark from source (sbt, offline) into
.bench_build (or $CARGO_TARGET_DIR), generates the workload's inputs
from the seed, runs one JVM with one GraftSession and one client
thread, and prints every metric by name with its unit, the
correctness verdict, and last a JSON line with the keys correct,
attempted, failed and metrics. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones. Exits 1 when a correctness
check fails, 2 when the engine cannot be built or run.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402



def read(path):
    with open(path) as fh:
        return fh.read()


# BENCHMARK.json gives the units of the metrics it lists; UNITS gives
# those of the figures and span counters the runs print besides.
BENCHMARK = json.loads(read(os.path.join(ROOT, "BENCHMARK.json")))
UNITS = {m["name"]: m["unit"]
         for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]}
DEFAULT_SEED = 1
# for confirming a later claim on inputs the benchmark was not tuned on
HELDOUT_SEED = 7919

# Every workload reports the same metrics: END_TO_END with tracing off,
# PER_LAYER with tracing on. A per-layer `op.*` counter is summed over
# the Spark jobs of the op's named spans (gap_ms: over the spans' gaps)
# and divided by the op count.
END_TO_END = ["setup_s", "op_cpu_ms"]
OP_COUNTERS = ["jobs", "tasks", "cpu_s", "gap_ms", "in_bytes",
               "shuffle_bytes", "out_bytes"]
RUN_COUNTERS = ["jvm.gc_ms", "jvm.peak_rss_mb", "setup.session_ms",
                "setup.prepare_ms", "trace.span_coverage", "trace.op_p50_ms",
                "trace.op_cpu_ms"]
PER_LAYER = [f"op.{k}" for k in OP_COUNTERS] + RUN_COUNTERS

# What each workload prints besides, not gated. Traced run ("# span"
# lines): its named spans with their counters beyond SPAN_COUNTERS, and
# its run-level counters. Untraced run: its own figures over the gated
# window ("# figure" lines). Both: wall-clock figures over all ops
# ("# wall:" line).
WORKLOADS = {
    "serve_gold": {
        "spans": {"queries.build": [], "plan": [],
                  "exec": ["in_bytes", "shuffle_bytes"]},
        "counters": [],
        "figures": [],
        "wall": ["op_p50_ms", "op_less_steal_p50_ms", "ops_per_s"],
    },
    "mor_dml": {
        "spans": {
            "ops.ManifestTable.mergeBatchDV": ["out_bytes"],
            "ops.ManifestTable.updateWhereDV": ["out_bytes"],
            "ops.ManifestTable.deleteWhereDV": ["out_bytes"],
            "ops.ManifestTable.optimizeBinPack": ["out_bytes"],
            "ops.ZTable.scanXRange": ["files_frac"],
            "ops.ZTable.bloomCandidateFiles": ["files_frac"],
        },
        "counters": ["ops.ManifestTable.live_files", "ops.ManifestTable.dv_rows"],
        "figures": ["commit_cpu_ms", "fresh_read_cpu_ms", "write_amp",
                    "space_amp"],
        "wall": ["op_p50_ms", "op_less_steal_p50_ms", "ops_per_s",
                 "commit_p50_ms", "fresh_read_p50_ms"],
    },
    "corpus_ingest": {
        "spans": {
            "pipelines.CorpusPipeline.ingestNew": ["admit_frac", "shuffle_bytes"],
            "pipelines.CorpusPipeline.ingestNewNearDup":
                ["admit_frac", "shuffle_bytes", "spill_bytes"],
        },
        "counters": [],
        "figures": ["state_bytes_per_doc"],
        "wall": ["op_p50_ms", "op_less_steal_p50_ms", "ops_per_s", "docs_per_s"],
    },
}
# every named span reports these; a counter the workload noted on the
# span itself wins, any other is summed over the span's Spark jobs
SPAN_COUNTERS = ["ms", "jobs", "tasks", "cpu_s", "gap_ms"]
UNITS.update({
    "op_p50_ms": "ms", "op_less_steal_p50_ms": "ms", "ops_per_s": "1/s",
    "commit_cpu_ms": "ms", "fresh_read_cpu_ms": "ms", "write_amp": "ratio",
    "space_amp": "ratio", "commit_p50_ms": "ms", "fresh_read_p50_ms": "ms",
    "state_bytes_per_doc": "B/doc", "docs_per_s": "1/s",
    "ops.ManifestTable.live_files": "count", "ops.ManifestTable.dv_rows": "count"})
# a named span's counters, by counter
SPAN_UNITS = {
    "ms": "ms", "jobs": "count", "tasks": "count", "cpu_s": "s", "gap_ms": "ms",
    "in_bytes": "B", "shuffle_bytes": "B", "out_bytes": "B", "spill_bytes": "B",
    "files_frac": "frac", "admit_frac": "frac"}


RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
CPUS_MAX = 4  # local[n], n = min(CPUS_MAX, cores)
JVM_HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's
# javaOptions carry the same list).
ADD_OPENS = [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for o in ("--add-opens", p + "=ALL-UNNAMED")]

class BenchError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(bdir):
    """Compile engine + benchmark once per source state; return the
    runtime classpath file."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found "
                         "next to perfbench/")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp = os.path.join(bdir, "build.stamp"), os.path.join(bdir, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp) and os.path.exists(stamp) and read(stamp) == digest:
        return cp
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=bdir)
    # sbt's scratch files stay in the build directory, and its launcher
    # leaves the lock file of its boot directory (in $HOME) alone
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-Dsbt.boot.lock=false"])
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        code = wait(subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True), BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(cp):
        sys.stderr.write(read(log)[-4000:])
        raise BenchError(f"build failed (exit {code}), log {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def wait(proc, timeout):
    """Wait for `proc`; on timeout or interrupt kill its process group
    and wait until it has ended."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def run_jvm(a, cp_file, work, data):
    cpus = min(CPUS_MAX, len(os.sched_getaffinity(0)))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    out = os.path.join(work, "result.json")
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Djava.io.tmpdir={work}/tmp",
           "-cp", read(cp_file).strip(), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--work", work, "--out", out,
           "--verifyhash", os.path.join(ROOT, "VERIFYHASH.json"),
           "--fixture", os.path.join(HERE, "fixture", "sf0.01"),
           "--corrupt", "1" if a.corrupt else "0"]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        code = wait(subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                                     stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL,
                                     start_new_session=True),
                    RUN_TIMEOUT_S - (time.time() - a.t0))
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(read(log)[-6000:])
        raise BenchError(f"benchmark JVM failed (exit {code})")
    res = json.loads(read(out))
    res["cpus"] = cpus
    return res


def setup_ms(res):
    """Process CPU ms of set-up: JVM start to session ready, the median
    of the fixture builds, the warm-up."""
    fix = stats.median(res["fixture_cpu_ms"]) if res["fixture_cpu_ms"] else 0.0
    return res["session_cpu_ms"], fix, res["warmup_cpu_ms"]


def by_kind(samples, name):
    """The samples of `name`, one list per op kind (`name:kind`)."""
    return [v for k, v in samples.items() if k == name or k.startswith(name + ":")]


def mix_median(samples, name):
    """Each op kind's median, averaged over the kinds: the mix's mean op,
    however many ops of each kind a run completed."""
    groups = by_kind(samples, name)
    return sum(stats.median(g) for g in groups) / len(groups)


def figures(res, names, samples):
    """End-to-end figures `names`, medians over `samples`."""
    c = res["counters"]
    m = {
        "setup_s": lambda: sum(setup_ms(res)) / 1e3,
        "op_p50_ms": lambda: mix_median(samples, "op_ms"),
        "op_less_steal_p50_ms": lambda: mix_median(samples, "op_less_steal_ms"),
        "ops_per_s": lambda: sum(map(len, by_kind(samples, "op_ms"))) / res["measure_s"],
        "commit_p50_ms": lambda: stats.median(samples["commit_ms"]),
        "fresh_read_p50_ms": lambda: stats.median(samples["fresh_read_ms"]),
        "docs_per_s": lambda: c["docs_per_s"],
        "op_cpu_ms": lambda: mix_median(samples, "op_cpu_ms"),
        "commit_cpu_ms": lambda: stats.median(samples["commit_cpu_ms"]),
        "fresh_read_cpu_ms": lambda: stats.median(samples["fresh_read_cpu_ms"]),
        "write_amp": lambda: c["write_amp"],
        "space_amp": lambda: c["space_amp"],
        "state_bytes_per_doc": lambda: c["state_bytes_per_doc"],
    }
    try:
        return {k: m[k]() for k in names}
    except (KeyError, ValueError, ZeroDivisionError) as e:
        raise BenchError(f"the run recorded no {e}")


def span_figures(res, wl):
    """The workload's named spans, per call (mean over the run's calls),
    and its run-level counters: printed by the traced run, not gated."""
    spans, jobs, m = res["spans"], res["jobs"], {}
    for name, extra in WORKLOADS[wl]["spans"].items():
        recs = [x for x in spans if x["name"] == name]
        js = [j for j in jobs if j["span"] == name]
        n = max(1, len(recs))
        m[f"{name}.ms"] = sum(x["end"] - x["start"] for x in recs) / n
        m[f"{name}.jobs"] = len(js) / n
        m[f"{name}.tasks"] = sum(j["tasks"] for j in js) / n
        m[f"{name}.cpu_s"] = sum(j["cpu_ns"] for j in js) / 1e9 / n
        m[f"{name}.gap_ms"] = sum(span_gap(x, js) for x in recs) / n
        for k in extra:
            noted = [x["extra"][k] for x in recs if k in x["extra"]]
            m[f"{name}.{k}"] = sum(noted) / len(noted) if noted else \
                sum(j[k] for j in js) / n
    for k in WORKLOADS[wl]["counters"]:
        m[k] = res["counters"][k]
    return m


def span_gap(span, jobs):
    """The span's wall time not covered by the given jobs."""
    return stats.gap_ms((span["start"], span["end"]),
                        [(j["start"], j["end"]) for j in jobs
                         if j["start"] < span["end"] and j["end"] > span["start"]])


def per_layer(res, wl):
    """The PER_LAYER metrics of a traced run."""
    names = WORKLOADS[wl]["spans"]
    spans = [x for x in res["spans"] if x["name"] in names]
    jobs = [j for j in res["jobs"] if j["span"] in names]
    ops = len(res["ops"])
    m = {f"op.{k}": sum(j[k] for j in jobs) / ops
         for k in ("tasks", "in_bytes", "shuffle_bytes", "out_bytes")}
    m["op.jobs"] = len(jobs) / ops
    m["op.cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9 / ops
    m["op.gap_ms"] = sum(span_gap(x, [j for j in jobs if j["span"] == x["name"]])
                         for x in spans) / ops
    m["jvm.gc_ms"] = res["gc_ms"] / ops
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["setup.session_ms"], fixture, warmup = setup_ms(res)
    m["setup.prepare_ms"] = fixture + warmup
    # share of op wall time inside the named spans, and the traced run's
    # op latency and CPU (minus the untraced run's op_p50_ms and
    # op_cpu_ms = tracing overhead)
    wall = sum(b - a for a, b in res["ops"])
    inside = sum(stats.covered([(x["start"], x["end"]) for x in spans], a, b)
                 for a, b in res["ops"])
    m["trace.span_coverage"] = inside / wall
    m["trace.op_p50_ms"] = mix_median(res["samples"], "op_ms")
    m["trace.op_cpu_ms"] = mix_median(res["window_samples"], "op_cpu_ms")
    return {k: m[k] for k in PER_LAYER}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one expected value; the run must fail")
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM (see wait())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a.t0 = time.time()
    bdir = build_dir()
    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        cp = build(bdir)
        a.t0 = time.time()  # the run's own budget starts after the build
        shutil.rmtree(work, ignore_errors=True)
        data = os.path.join(work, "data")
        t = time.perf_counter()
        gen.generate(data, a.workload, a.seed)
        gen_s = time.perf_counter() - t
        res = run_jvm(a, cp, work, data)
        if not by_kind(res["samples"], "op_ms"):
            raise BenchError("no op completed")
        w = WORKLOADS[a.workload]
        if a.trace:
            metrics = per_layer(res, a.workload)
            extra = span_figures(res, a.workload)
        else:
            metrics = figures(res, END_TO_END, res["window_samples"])
            extra = figures(res, w["figures"], res["window_samples"])
        # wall-clock figures over all ops: printed, not gated (see README)
        wall = figures(res, w["wall"], res["samples"])
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in metrics.items():
        print(f"{k} {v:.6g} {UNITS[k]}")
    for k, v in extra.items():
        print(f"# {'span' if a.trace else 'figure'} {k} {v:.6g} "
              f"{UNITS.get(k) or SPAN_UNITS[k.rsplit('.', 1)[1]]}")
    print("# wall: " + " ".join(f"{k}={v:.6g}" for k, v in wall.items()))
    op = [v for g in by_kind(res["samples"], "op_ms") for v in g]
    p = stats.tail_pct(len(op))
    tail = f"p{p}={stats.percentile(op, p):.1f}ms" if p else "none"
    print(f"# run: workload={a.workload} seed={a.seed} trace={a.trace} "
          f"ops={len(op)} op_tail({tail}) "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"failed_frac={res['failed'] / max(1, res['attempted']):.4g} "
          f"measure_s={res['measure_s']:.3f} jit_ms={res['jit_ms']:.0f} "
          f"gen_s={gen_s:.2f} cpus={res['cpus']} "
          f"nproc={res['nproc']} steal_s={res['steal_s']:.2f} "
          f"cotenant_cpus={res['cotenant_cpus']:.2f} "
          f"counters={json.dumps(res['counters'], sort_keys=True)}")
    bad = [x for x in res["checks"] if not x["ok"]]
    correct = not bad and res["failed"] == 0
    print(f"correctness: {'PASS' if correct else 'FAIL'} "
          f"({len(res['checks']) - len(bad)}/{len(res['checks'])} checks)")
    for x in bad:
        print(f"  FAILED {x['name']}: {x['detail']}")
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
