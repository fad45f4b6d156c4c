#!/usr/bin/env python3
"""Allocation profile of one ndvibench op: where its bytes are allocated.

    python3 tools/alloc_profile.py --workload scene_large --seed 7

Runs `python3 ndvibench/run.py` once with a JFR recording of the JVM's
TLAB allocation events (jdk.ObjectAllocationInNewTLAB and
jdk.ObjectAllocationOutsideTLAB), started through JAVA_TOOL_OPTIONS. It
changes nothing under ndvibench/ (the run writes its result and log under
ndvibench/results/ as any run does), and it refuses to start unless the
harness is already built for the current sources: the build's own JVMs
would otherwise record too. Build it with one plain run.py call first.

The events are cut to the window of one op, read from the run log: an
op's note ("[ndvibench  23.66 s] op 0: 10.69 s, ...") gives the JVM time
at which the op was logged and its wall time, and the window is the wall
time up to that note (the note follows the op's check, so the window ends
a little after the op does). Each event is weighted the way JFR's own
tools weigh it: a new-TLAB event by the size of the TLAB, an
outside-TLAB event by the size of the object. The sum is an estimate of
the op's allocation; ndvibench's alloc_mb_per_op is the exact figure.

Printed: the window, the estimated MB in it, then MB by subsystem (the
package, cut to four parts, of the first frame outside java., jdk., sun.
and scala.) and by top frame (the allocating method). --jfr keeps the
recording for `jfr print`.
"""
import argparse
import collections
import datetime
import json
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "ndvibench")
EVENTS = ("jdk.ObjectAllocationInNewTLAB", "jdk.ObjectAllocationOutsideTLAB")
SETTINGS = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ObjectAllocationInNewTLAB">
    <setting name="enabled">true</setting><setting name="stackTrace">true</setting>
  </event>
  <event name="jdk.ObjectAllocationOutsideTLAB">
    <setting name="enabled">true</setting><setting name="stackTrace">true</setting>
  </event>
  <event name="jdk.JVMInformation">
    <setting name="enabled">true</setting><setting name="period">beginChunk</setting>
  </event>
</configuration>
"""
NOTE = re.compile(r"^\[ndvibench\s+([\d.]+) s\] op (\d+)( traced)?: ([\d.]+) s")
LIBRARY = ("java.", "jdk.", "sun.", "scala.")


def harness_built():
    """True when ndvibench's harness build matches the current sources
    (the stamp run.py writes after a build)."""
    sys.path.insert(0, BENCH)
    sys.dont_write_bytecode = True  # no __pycache__ under ndvibench/
    import run  # ndvibench/run.py: read-only use of its build digest
    stamp = os.path.join(run.BUILD_DIR, "stamp")
    if not os.path.isfile(stamp):
        return False
    with open(stamp) as fh:
        return fh.read() == run.digest(run.build_inputs())


def op_window(log_path, op):
    """(op, start, end) of op `op` in seconds after JVM start, from the run
    log; op None takes the last untraced op the log shows."""
    notes = []
    with open(log_path, errors="replace") as fh:
        for line in fh:
            m = NOTE.match(line)
            if m:
                notes.append((int(m.group(2)), bool(m.group(3)), float(m.group(1)),
                              float(m.group(4))))
    if not notes:
        sys.exit(f"alloc_profile: no op notes in {log_path}")
    pick = [n for n in notes if n[0] == op] if op is not None else \
        [n for n in notes if not n[1]][-1:]
    if not pick:
        sys.exit(f"alloc_profile: op {op} not in {log_path}")
    k, _, at, wall = pick[0]
    return k, at - wall, at


def instant(s):
    """Seconds since the epoch of a JFR JSON timestamp (ISO-8601)."""
    s = s.replace("Z", "+00:00")
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(\.\d+)?(.*)", s)
    frac = (m.group(2) or ".0")[:7]  # datetime takes microseconds
    return datetime.datetime.fromisoformat(m.group(1) + frac + m.group(3)).timestamp()


def events(stream):
    """The objects of the recording's "events" array, decoded one at a time
    from `stream` (the JSON of a large recording does not fit in memory)."""
    dec = json.JSONDecoder()
    buf, i, started = "", 0, False
    while True:
        chunk = stream.read(1 << 20)
        buf = buf[i:] + chunk
        i = 0
        if not started:
            j = buf.find('"events"')
            if j < 0:
                if not chunk:
                    return
                continue
            i = buf.index("[", j) + 1
            started = True
        while True:
            while i < len(buf) and buf[i] in " \t\r\n,":
                i += 1
            if i < len(buf) and buf[i] == "]":
                return
            try:
                obj, i = dec.raw_decode(buf, i)
            except ValueError:
                break  # the object runs past the chunk: read more
            yield obj
        if not chunk:
            return


def frame_name(f):
    m = f.get("method") or {}
    t = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{t}.{m.get('name', '?')}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="scene_large")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--op", type=int, help="op number (default: the last untraced op)")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--depth", type=int, default=32, help="stack frames read per event")
    ap.add_argument("--jfr", help="keep the recording at this path")
    a = ap.parse_args()

    if not harness_built():
        sys.exit("alloc_profile: the ndvibench harness is not built for these sources; "
                 f"run `python3 ndvibench/run.py --workload {a.workload} --seed {a.seed} "
                 f"--seconds {a.seconds}` once first")
    with tempfile.TemporaryDirectory(prefix="alloc_profile-") as tmp:
        jfc = os.path.join(tmp, "alloc.jfc")
        with open(jfc, "w") as fh:
            fh.write(SETTINGS)
        rec = a.jfr or os.path.join(tmp, "op.jfr")
        env = dict(os.environ)
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
            f" -XX:StartFlightRecording=filename={rec},settings={jfc},dumponexit=true").strip()
        subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--seconds", str(a.seconds)],
                       env=env, check=True, stdout=subprocess.DEVNULL)
        log = os.path.join(BENCH, "results", f"{a.workload}-seed{a.seed}-trace0.log")
        op, t0, t1 = op_window(log, a.op)

        jvm_start, allocs = None, []
        p = subprocess.Popen(["jfr", "print", "--json", "--stack-depth", str(a.depth),
                              "--events", ",".join(EVENTS + ("jdk.JVMInformation",)), rec],
                             stdout=subprocess.PIPE, text=True)
        for e in events(p.stdout):
            v = e.get("values", {})
            if e.get("type") == "jdk.JVMInformation":
                jvm_start = instant(v["jvmStartTime"])
                continue
            size = v.get("tlabSize") if e.get("type") == EVENTS[0] else v.get("allocationSize")
            names = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames") or []]
            top = names[0] if names else "?"
            own = next((f for f in names if not f.startswith(LIBRARY)), top)
            package = own.rsplit(".", 2)[0]  # drop the class and the method
            allocs.append((instant(v["startTime"]), float(size or 0), top,
                           ".".join(package.split(".")[:4])))
        p.wait()
    if jvm_start is None:
        sys.exit("alloc_profile: the recording holds no jdk.JVMInformation event")
    in_op = [x for x in allocs if t0 <= x[0] - jvm_start <= t1]
    total = sum(x[1] for x in in_op)
    by_frame, by_subsystem = collections.Counter(), collections.Counter()
    for _, size, top, subsystem in in_op:
        by_frame[top] += size
        by_subsystem[subsystem] += size

    mb = 1e6
    print(f"{a.workload} seed {a.seed}, op {op}: window {t0:.2f}-{t1:.2f} s after JVM start "
          f"({t1 - t0:.2f} s), {len(in_op)} events, {total / mb:.1f} MB estimated")
    for title, c in (("MB by subsystem", by_subsystem), ("MB by top frame", by_frame)):
        print(f"\n{title}:")
        for name, size in c.most_common(a.top):
            print(f"  {size / mb:9.1f}  {name}")


if __name__ == "__main__":
    main()
