#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and the
library with sbt (offline); later runs reuse the build while the sources
are unchanged. The last line of stdout is the result JSON: end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`. The lines
before it are a human-readable report; the full report, with the span
self-time table and the host-contention stamp, is written to
perfbench/.work/reports/. See perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["mart_serving", "curation_ops"]
# Input sizes (scale factor of the generated star schema; sf 0.01 is
# 60,000 lineitem rows, 500 documents and 10,000 events).
SERVING_SF = 0.01
CURATION_SF = 0.01
# Repetitions of table creation in set-up (the median is reported), as
# many as the run budget of BENCHMARK.json allows. curation_ops creates
# no tables; its warm-up is one pass.
SETUP_REPS = {"mart_serving": 2, "curation_ops": 1}
HEAP = "-Xmx3g"
BUILD_TIMEOUT_S = 840
# Time the benchmark JVM may take beyond --seconds: session start,
# set-up, warm-up, the last operation and the end-of-run GCs.
JVM_MARGIN_S = 120
WORK = os.path.join(HERE, ".work")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_stamp():
    """Load averages and cumulative CPU jiffies (total, steal)."""
    try:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        return {"loadavg": load, "cpu_total": sum(cpu[:8]),
                "cpu_steal": cpu[7] if len(cpu) > 7 else 0}
    except OSError:
        return {"loadavg": None, "cpu_total": 0, "cpu_steal": 0}


def source_digest():
    """Hash of everything the build reads: both build definitions and
    both source trees."""
    h = hashlib.sha256()
    files = []
    for base in [ROOT, HERE]:
        files.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        files += sorted(os.path.join(proj, f) for f in os.listdir(proj)
                        if f.endswith((".sbt", ".properties", ".scala")))
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, dirs, fs in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness; returns (java options,
    classpath). Reuses the previous build while the sources match."""
    stamp_dir = os.path.join(WORK, "build")
    stamp = os.path.join(stamp_dir, "stamp.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["java_options"], s["classpath"]
    os.makedirs(stamp_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log = os.path.join(stamp_dir, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed", 1)
    tgt = os.path.join(HERE, "target")
    with open(os.path.join(tgt, "launch-javaopts.txt")) as f:
        java_opts = [x for x in f.read().split("\n") if x]
    with open(os.path.join(tgt, "launch-classpath.txt")) as f:
        cp = f.read().strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "java_options": java_opts, "classpath": cp}, f)
    return java_opts, cp


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def make_inputs(workload, seed, data):
    cfg = {}
    if workload == "mart_serving":
        gen.star_tables(seed, SERVING_SF, data)
        cfg["serving_plan"] = gen.serving_plan(seed, 3 * 200)
        cfg["serving_warmup"] = gen.serving_warmup()
    if workload == "curation_ops":
        gen.curation_tables(seed, CURATION_SF, data)
        cfg["curation_entries"] = layers.ENTRIES
    return cfg


def run_jvm(java_opts, cp, cfg, run_dir, timeout):
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + java_opts + [HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                  "perfbench.Main", cfg_path]
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=err)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("benchmark JVM timed out", 1)
    if code != 0 or not os.path.exists(cfg["out"]):
        err = os.path.join(run_dir, "jvm.err")
        if os.path.exists(err):
            with open(err) as f:
                sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {code}", 1)
    with open(cfg["out"]) as f:
        return json.load(f)


def end_to_end(workload, raw):
    """The workload's named metrics (METRICS.md) and the generic
    end-to-end metrics every workload reports."""
    ops = raw["ops"]
    walls = [o["wall_ms"] for o in ops]
    p50 = stats.median(walls)
    tail_ms, tail_label = stats.tail_ms(walls)
    setup_s = ((raw["session_ready_ms"] - raw["jvm_start_ms"]) / 1000.0
               + stats.median(raw["setup_s"]) + raw["warmup_s"])
    named = {"setup_s": (setup_s, "s"), "live_heap_mb": (raw["live_heap_mb"], "MB"),
             "op_tail_ms": (tail_ms, "ms")}
    if workload == "mart_serving":
        named["serve_p50_ms"] = (p50, "ms")
        named["serve_tail_ms"] = (tail_ms, "ms")
    elif workload == "curation_ops":
        named["curation_pass_s"] = (p50 / 1000.0, "s")
    generic = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": p50, "unit": "ms"},
        "live_heap_mb": {"value": raw["live_heap_mb"], "unit": "MB"},
    }
    return named, generic, {"tail": tail_label, "samples": len(walls)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_begin = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    before = host_stamp()
    java_opts, cp = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    os.makedirs(data)
    cfg = make_inputs(a.workload, a.seed, data)
    n_cpus = cpus()
    cfg.update({"workload": a.workload, "seconds": a.seconds, "trace": bool(a.trace),
                "cpus": n_cpus, "setup_reps": SETUP_REPS[a.workload], "data_dir": data,
                "work_dir": os.path.join(run_dir, "work"),
                "out": os.path.join(run_dir, "raw.json")})
    os.makedirs(cfg["work_dir"])
    t_jvm = time.time()
    raw = run_jvm(java_opts, cp, cfg, run_dir, a.seconds + JVM_MARGIN_S)
    t_gate = time.time()

    con = gate.connect(data)
    bad, msgs = {"mart_serving": gate.serving, "curation_ops": gate.curation}[a.workload](raw, con)
    measured = {o["id"] for o in raw["ops"]}
    failed_ids = {o["id"] for o in raw["ops"] if not o["ok"]} | (bad & measured)
    msgs += [f"op {o['id']}: {o['note']}" for o in raw["ops"] if not o["ok"]]
    after = host_stamp()

    named, generic, tail_info = end_to_end(a.workload, raw)
    d_total = after["cpu_total"] - before["cpu_total"]
    host = {"loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
            "steal_pct": (100.0 * (after["cpu_steal"] - before["cpu_steal"]) / d_total
                          if d_total > 0 else 0.0), "cpus": n_cpus}
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "op_count": len(raw["ops"]), "failed": len(failed_ids),
              "gate_messages": msgs[:50], "host": host,
              "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
              "tail": tail_info,
              "ops": [{"ms": round(o["wall_ms"], 3),
                       "parts": {k: round(v, 3) for k, v in o["parts"].items()}}
                      for o in raw["ops"]],
              "timeline_s": {"inputs": t_jvm - t_begin, "jvm": t_gate - t_jvm,
                             "session": (raw["session_ready_ms"] - raw["jvm_start_ms"]) / 1000.0,
                             "setup_reps": raw["setup_s"], "warmup": raw["warmup_s"],
                             "measured": raw["measured_s"],
                             "gate": time.time() - t_gate}}
    if a.trace:
        metrics, table = layers.per_layer(raw, n_cpus)
        report["span_table"] = table
    else:
        metrics = generic
    report["metrics"] = metrics

    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {len(raw['ops'])} ops, "
          f"{len(failed_ids)} failed; "
          f"loadavg {host['loadavg_before']} -> {host['loadavg_after']}, "
          f"steal {host['steal_pct']:.2f}%")
    for k, (v, u) in named.items():
        extra = f" ({tail_info['tail']}, n={tail_info['samples']})" if k.endswith("tail_ms") else ""
        print(f"  {k} = {v:.4f} {u}{extra}")
    for m in msgs[:10]:
        print(f"  gate: {m}")
    if a.trace:
        for row in table:
            print("  span {name:<28} n={n:<5} total_ms={total_ms:<12.2f} self_ms={self_ms:.2f}"
                  .format(**row))
    con.close()
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failed_ids and not bad, "attempted": len(raw["ops"]),
                      "failed": len(failed_ids), "metrics": metrics}))


if __name__ == "__main__":
    main()
