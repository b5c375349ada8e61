#!/usr/bin/env python3
"""Attribute JFR CPU samples to engine operations and engine call chains.

Input is the JSON that `jfr print` writes for execution samples, with
full stacks (without --stack-depth, `jfr print` cuts every stack to 5
frames and the engine frames never show):

    jfr print --stack-depth 2048 --events jdk.ExecutionSample --json \\
        run.jfr > run.json
    python3 tools/jfr_by_frame.py run.json
    python3 tools/jfr_by_frame.py run.json --window 10:40 --top 20
    python3 tools/jfr_by_frame.py run.json --op ops.ManifestTable.optimizeBinPack

Each sample is keyed by its engine frames (classes under --prefix,
default `graft.`): the OUTERMOST one is the engine op the sample ran
under (say `ops.ManifestTable.optimizeBinPack`), and the chain of engine
frames from there inwards (consecutive repeats folded) is where inside
it the time went. Lambda frames and thread-pool task frames are
skipped, so a sample on a driver IO-pool thread counts under the
engine method that handed the pool its work (say
`ops.MetaIO.columnValues`). Samples with no engine frame count as `(no engine
frame)`: Spark's own threads, the JIT, GC. Shares are of all samples in
the selected windows, so op shares add up to 100%.

--window START:END keeps samples taken START..END seconds after the
first sample of the recording (repeatable; either side may be empty).
--op keeps only samples under that op for the chain table. --match
NAME adds the share of samples with a frame containing NAME anywhere on
the stack (repeatable), e.g. a parquet-mr or Spark method; it matches
the raw JVM name, `graft.ops.ZTable$.writeStats` for a Scala object.
"""
import argparse
import json
import re
import sys
from collections import Counter
from datetime import datetime


def frame_name(frame):
    m = frame.get("method", {})
    t = m.get("type", {})
    cls = (t.get("name") if isinstance(t, dict) else t) or "?"
    return "%s.%s" % (cls.replace("/", "."), m.get("name", "?"))


def plumbing(name):
    """Frames that name no engine step: lambda classes, and the
    call/apply/run of an anonymous class (a thread-pool task)."""
    cls, _, meth = name.rpartition(".")
    return "$$Lambda" in cls or (
        re.search(r"\$anon\$\d+$", cls) is not None
        and meth in ("call", "apply", "run"))


def method_key(name):
    """`pkg.Obj$Inner$.$anonfun$meth$2` -> `pkg.Obj.Inner.meth`: Scala
    object, inner-class, local-def and lambda frames fold into their
    method."""
    cls, _, meth = name.rpartition(".")
    if "$anonfun$" in meth:
        meth = meth.split("$anonfun$", 1)[1].split("$")[0]
    meth = re.sub(r"\$\d+$", "", meth).rstrip("$") or meth
    cls = ".".join(p for p in cls.replace("$", ".").split(".") if p)
    return "%s.%s" % (cls, meth)


def parse_time(v):
    if isinstance(v, (int, float)):
        return float(v) / 1e9  # nanoseconds
    s = str(v).replace("Z", "+00:00")
    # trim sub-microsecond digits, which fromisoformat does not take
    if "." in s:
        head, tail = s.split(".", 1)
        digits = "".join(c for c in tail if c.isdigit())
        zone = tail[len(digits):]
        s = "%s.%s%s" % (head, digits[:6], zone)
    return datetime.fromisoformat(s).timestamp()


def short(name, prefix):
    return name[len(prefix):] if name.startswith(prefix) else name


def engine_chain(frames, prefix):
    """Engine frames outermost first, consecutive repeats folded;
    lambdas and synthetic accessors fold into their method."""
    chain = []
    for f in reversed(frames):  # frames[0] is the innermost frame
        n = frame_name(f)
        if not n.startswith(prefix) or plumbing(n):
            continue
        n = short(method_key(n), prefix)
        if not chain or chain[-1] != n:
            chain.append(n)
    return chain


def load(path):
    with open(path) as fh:
        doc = json.load(fh)
    events = doc.get("recording", doc).get("events", [])
    out = []
    for e in events:
        v = e.get("values", {})
        st = v.get("stackTrace") or {}
        out.append((parse_time(v.get("startTime", 0)),
                    [frame for frame in st.get("frames", [])]))
    return out


def windows(spec):
    out = []
    for w in spec or []:
        lo, _, hi = w.partition(":")
        out.append((float(lo) if lo else float("-inf"),
                    float(hi) if hi else float("inf")))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("json", help="`jfr print --json --stack-depth N` output")
    ap.add_argument("--prefix", default="graft.",
                    help="package prefix of engine frames (default graft.)")
    ap.add_argument("--window", action="append",
                    help="START:END seconds after the first sample")
    ap.add_argument("--op", help="chain table for this op only")
    ap.add_argument("--match", action="append", default=[],
                    help="share of samples with this name on the stack")
    ap.add_argument("--top", type=int, default=25,
                    help="rows per table (default 25)")
    ap.add_argument("--depth", type=int, default=6,
                    help="engine frames kept per chain (default 6)")
    a = ap.parse_args(argv)

    samples = load(a.json)
    if not samples:
        sys.exit("no samples in %s" % a.json)
    t0 = min(t for t, _ in samples)
    ws = windows(a.window)
    if ws:
        samples = [(t, fs) for t, fs in samples
                   if any(lo <= t - t0 <= hi for lo, hi in ws)]
    total = len(samples)
    if total == 0:
        sys.exit("no samples in the selected windows")

    ops, chains, matched = Counter(), Counter(), Counter()
    for _, frames in samples:
        chain = engine_chain(frames, a.prefix)
        op = chain[0] if chain else "(no engine frame)"
        ops[op] += 1
        if chain and (a.op is None or op == a.op):
            chains[" > ".join(chain[:a.depth])] += 1
        names = [frame_name(f) for f in frames]
        for m in a.match:
            if any(m in n for n in names):
                matched[m] += 1

    def pct(n):
        return 100.0 * n / total

    print("# %d samples%s" % (total, "" if not ws else
                              " in windows %s" % " ".join(a.window)))
    print("# op: share, samples, outermost engine frame")
    for op, n in ops.most_common(a.top):
        print("op    %6.2f%% %6d  %s" % (pct(n), n, op))
    print("# chain: share, samples, engine frames outermost first%s"
          % ("" if a.op is None else " (op %s)" % a.op))
    for c, n in chains.most_common(a.top):
        print("chain %6.2f%% %6d  %s" % (pct(n), n, c))
    for m in a.match:
        print("match %6.2f%% %6d  %s" % (pct(matched[m]), matched[m], m))


if __name__ == "__main__":
    main()
