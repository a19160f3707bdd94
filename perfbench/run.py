#!/usr/bin/env python3
"""graft benchmark: one command, three seeded workloads, one JVM per run.

    python3 perfbench/run.py --workload analytic_mix --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run compiles graft and the
benchmark's Scala program from source into .bench_build/perfbench; inputs
are generated per seed and cached there.
Prints every metric by name with its unit, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

ROOT = os.getcwd()
JVM_HEAP = "2g"  # fixed (-Xms = -Xmx), so peak RSS does not follow heap ergonomics
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("no Spark jars found (set SPARK_HOME)")
    return jars


def target_dir():
    return os.path.join(ROOT, ".bench_build", "perfbench")


def build(target):
    """Compile graft's main sources and perfbench/src with scalac from the
    Spark distribution; skipped when the sources are unchanged."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        fail("no graft sources under src/main/scala (run from the repository root)")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for p in srcs + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(target, "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs + bench
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compilation failed", 1)
    jvm(out, ["--catalog", os.path.join(out, "catalog.json")], os.path.join(target, "tmp"), 120)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def jvm_cmd(classes, args, tmp=None):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    props = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if tmp:
        props.append(f"-Djava.io.tmpdir={tmp}")
    return ([java(), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=1g"] +
            opens + props +
            ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
             "perfbench.Main"] + args)


def jvm(classes, args, tmp, timeout):
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(jvm_cmd(classes, args, tmp), capture_output=True, text=True,
                       timeout=timeout)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        fail(f"JVM step {args[0]} failed", 1)


# ---------------------------------------------------------------- host noise

def _cpu_busy_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v) - v[3] - v[4]  # all but idle and iowait


def _loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def run_jvm(cmd, cwd, log_path, timeout):
    """Run the benchmark JVM; return (exit status, host-noise record)."""
    hz = os.sysconf("SC_CLK_TCK")
    load0, busy0 = _loadavg(), _cpu_busy_jiffies()
    self0 = resource.getrusage(resource.RUSAGE_SELF)
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        timer = threading.Timer(timeout, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        _, status, ru = os.wait4(p.pid, 0)
        p.returncode = os.waitstatus_to_exitcode(status)
        timer.cancel()
    wall = time.time() - t0
    self1 = resource.getrusage(resource.RUSAGE_SELF)
    jvm_cpu = ru.ru_utime + ru.ru_stime
    own = (self1.ru_utime - self0.ru_utime) + (self1.ru_stime - self0.ru_stime)
    other = max(0.0, (_cpu_busy_jiffies() - busy0) / hz - jvm_cpu - own)
    return p.returncode, {
        "loadavg_start": load0, "loadavg_end": _loadavg(), "wall_s": wall,
        "jvm_cpu_s": jvm_cpu, "other_cpu_s": other,
        "other_cpu_frac": other / max(1e-9, wall * (os.cpu_count() or 1))}


# ------------------------------------------------------------------ metrics

def tail(ms):
    """The highest percentile with at least 10 samples beyond it; the max
    when that percentile would lie below the median (fewer than 22 samples)."""
    s = sorted(ms)
    i = len(s) - 11 if len(s) >= 22 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s)


def judge(ops, expected):
    """Failed ops: threw, failed a JVM-side check, or a digest differs from
    the DuckDB oracle's."""
    bad = []
    for o in ops:
        why = o["error"]
        for k, d in o["digests"].items():
            if why is None and expected.get(k) != d:
                why = f"{k}: digest {d} != oracle {expected.get(k)}"
        if why:
            bad.append((o["name"], why))
    return bad


def e2e(ops, wall_s, setup, rss):
    ms = [o["ms"] for o in ops]
    t, pct = tail(ms)
    return {
        "setup_s": (setup, "s"),
        "op_p50_ms": (statistics.median(ms), "ms"),
        "op_tail_ms": (t, "ms"),
        "ops_per_s": (len(ops) / wall_s, "1/s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / wall_s, "rows/s"),
        "peak_rss_mb": (rss, "MiB"),
    }, pct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = workloads.WORKLOADS[a.workload]
    t_start = time.time()

    target = target_dir()
    os.makedirs(target, exist_ok=True)
    classes = build(target)
    # A run ends within 180 s; one that had to build first within 900 s.
    deadline = (time.time() if time.time() - t_start > 60 else t_start) + 175
    with open(os.path.join(classes, "catalog.json")) as f:
        catalog = json.load(f)

    inputs = workloads.inputs(wl, a.seed, os.path.join(target, "data"))
    names = workloads.oracle_names(wl, catalog)
    expected = workloads.expected(inputs, names, catalog["oracle"])

    run = os.path.join(target, "run")  # clean state: nothing survives a run
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "ingest_out"):
        os.makedirs(os.path.join(run, d))
    props = workloads.props(wl, a, inputs, catalog, run)
    props.update(result=os.path.join(run, "result.json"),
                 spans=os.path.join(run, "spans.jsonl"), work=run)
    with open(os.path.join(run, "run.properties"), "w") as f:
        for k, v in props.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    code, host = run_jvm(jvm_cmd(classes, [os.path.join(run, "run.properties")],
                                 os.path.join(run, "tmp")),
                         run, os.path.join(run, "jvm.log"), max(10, deadline - time.time()))
    if code != 0 or not os.path.exists(props["result"]):
        with open(os.path.join(run, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {code}", 1)
    with open(props["result"]) as f:
        res = json.load(f)

    ops, traced = res["ops"], res["traced_ops"]
    if not ops or (a.trace and not traced):
        fail("no op completed inside the measured window", 1)
    bad = judge(ops + traced, expected)
    for n, why in bad[:10]:
        print(f"FAILED {n}: {why}")
    for e in res["warm_errors"]:
        print(f"FAILED warm-up {e}")
    attempted = len(ops) + len(traced)
    setup = statistics.median(res["session_start_s"]) + res["warmup_s"]
    metrics, pct = e2e(ops, res["wall_s"], setup, res["rss_peak_mb"])
    written = sum(o["written_bytes"] for o in ops)
    in_bytes = sum(inputs["batch_bytes"] for o in ops if o["name"] == "ingest_batch") \
        if "batch_bytes" in inputs else 0
    layer = dict(res["layers"])
    layer["ingest.bytes_per_input_byte"] = written / in_bytes if in_bytes else 0.0
    layer["host.loadavg_1m"] = max(host["loadavg_start"][0], host["loadavg_end"][0])
    layer["host.other_cpu_frac"] = host["other_cpu_frac"]
    if a.trace:
        tm, _ = e2e(traced, res["traced_wall_s"], setup, res["rss_peak_mb"])
        for k in ("op_p50_ms", "op_tail_ms", "ops_per_s", "rows_per_s"):
            layer[f"overhead.{k}"] = tm[k][0] - metrics[k][0]
    units = {m["name"]: m["unit"] for m in workloads.PER_LAYER}
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} loop=closed clients=1 "
          f"cores={res['cores']} n_ops={len(ops)} setup_rounds={len(res['session_start_s'])}")
    print(f"inputs: rows={inputs['input_rows']} bytes={inputs['input_bytes']} "
          f"dirs={' '.join(os.path.relpath(p, ROOT) for p in inputs['dirs'])}")
    for k, (v, u) in metrics.items():
        extra = {"op_tail_ms": f"  (p{pct:.1f} of n_ops={len(ops)})",
                 "setup_s": f"  (session start median {statistics.median(res['session_start_s']):.3f}"
                            f" s of {res['session_start_s']} + warm-up pass "
                            f"{res['warmup_s']:.3f} s)"}.get(k, "")
        print(f"{k} = {v:.6g} {u}{extra}")
    print(f"fail_frac = {len(bad) / attempted:.6g} ratio  ({len(bad)} of {attempted})")
    print("op latencies (ms): " + " ".join(f"{o['name']}={o['ms']:.0f}" for o in ops))
    if a.workload == "ingest_maintain":
        print(f"bytes_per_input_byte = {layer['ingest.bytes_per_input_byte']:.6g} ratio")
    print(f"host: loadavg {host['loadavg_start']} -> {host['loadavg_end']}, "
          f"other processes used {host['other_cpu_s']:.2f} CPU-s "
          f"({100 * host['other_cpu_frac']:.1f}% of the host) during {host['wall_s']:.1f} s")
    if a.trace:
        for k in sorted(layer):
            print(f"{k} = {layer[k]:.6g} {units.get(k, '')}")
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
              "n_ops": len(ops), "failed": len(bad),
              "metrics": {k: v for k, (v, _) in metrics.items()}, "layers": layer}
    with open(os.path.join(target, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if a.trace:
        shutil.copy(props["spans"], os.path.join(
            target, f"spans-{a.workload}-{a.seed}.jsonl"))
    out = ({m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
            for m in workloads.PER_LAYER} if a.trace else
           {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()})
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({"correct": not bad and not res["warm_errors"], "attempted": attempted,
                      "failed": len(bad), "metrics": out}))


if __name__ == "__main__":
    main()
