#!/usr/bin/env python3
"""The engine's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt, offline sbt); later runs reuse the build
until a source file changes. Each run generates its inputs from the seed,
starts one JVM with a local[nproc] Spark session, runs the workload,
checks every op's output and prints, as its last line, one JSON object
with the keys correct, attempted, failed and metrics. The line before it
carries the workload's named metrics, the tail percentile, the host
calibration and, in a traced run, the per-layer breakdown. See
perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
JAR = os.path.join(BENCH, "target", "perfbench.jar")
# The JVM's class-data archive (CDS) of the classes a run loads, made once
# per build by a training run; it cuts JVM and Spark start-up by seconds.
CLASS_ARCHIVE = os.path.join(WORK, "classes.jsa")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
DEADLINE_S = 170          # every run must end within 180 s
BUILD_DEADLINE_S = 840    # a run that builds may take 900 s
JVM_HEAP = "3g"

sys.path.insert(0, BENCH)
import gen  # noqa: E402

# Fixed amount of work per measured second, so every run of a given
# --seconds does the same number of ops (and the tail percentile is the
# same on every commit). Rates are about what this engine does on a
# 4-core host.
WORKLOADS = {
    "mart_refresh": {"ops_per_s": 1 / 30, "min_ops": 1},
    "dashboard": {"ops_per_s": 0.4, "min_ops": 4},
    "price_ingest": {"ops_per_s": 0.1, "min_ops": 1},
}
CLIENTS = 2                # dashboard clients; each also loads one warm-up page
SNAPSHOT_SCALE = 0.01      # 60k lineitem rows, 500 documents
INGEST_ROWS_PER_BATCH = 2000
# Batches applied before the measured ones: batch 0 in set-up, batch 1 as
# the warm-up; op i applies batch i + WARM_BATCHES.
WARM_BATCHES = 2
PINS = os.path.join(BENCH, "pins.json")

# Sources whose change triggers a rebuild.
BUILD_INPUTS = ["src/main/scala", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"]

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def op_count(workload, seconds):
    w = WORKLOADS[workload]
    n = max(w["min_ops"], int(round(seconds * w["ops_per_s"])))
    if workload == "dashboard":
        # Whole cycles of the window pattern, which the clients share
        # evenly: the empty-window share is the same in every run.
        k = len(gen.WINDOW_PATTERN)
        n = -(-n // k) * k
    return n


# ----------------------------------------------------------------- build

def _run_killable(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def source_hash(root):
    h = hashlib.sha256()
    for entry in BUILD_INPUTS:
        path = os.path.join(root, entry)
        files = [path] if os.path.isfile(path) else sorted(
            glob.glob(os.path.join(path, "**", "*.scala"), recursive=True))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def built(want):
    stamp = os.path.join(WORK, "build.stamp")
    if not (os.path.exists(JAR) and os.path.exists(stamp)):
        return False
    with open(stamp) as f:
        return f.read() == want


def build(want, deadline):
    """Builds the harness jar and its class archive unless `want`, the
    hash of the sources, is what the last build was made from."""
    if built(want):
        return
    stamp = os.path.join(WORK, "build.stamp")
    for stale in (stamp, CLASS_ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = _run_killable(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
            max(10, deadline - time.monotonic()), cwd=BENCH, env=env,
            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        raise BenchError(f"build failed (exit {code}); see {log}")
    train_class_archive(deadline)
    with open(stamp, "w") as f:
        f.write(want)


def train_class_archive(deadline):
    """Runs every workload once, unmeasured, in one JVM that writes the
    class-data archive of everything it loaded when it exits. Measured
    runs map that archive instead of loading and verifying those classes
    again. Only start-up changes: the archive holds class metadata, not
    compiled code, so an op's steady-state work is untouched."""
    train = os.path.join(WORK, f"train-{os.getpid()}")
    # The fewest ops that load the classes each workload's ops load.
    ops = {"mart_refresh": 1, "dashboard": CLIENTS, "price_ingest": 1}
    try:
        for w, n in ops.items():
            make_inputs(w, 0, n, os.path.join(train, "in", w))
            os.makedirs(os.path.join(train, "work", w))
        run_jvm(",".join(ops), os.path.join(train, "in"),
                os.path.join(train, "work"), os.path.join(train, "out.json"),
                ",".join(map(str, ops.values())), False,
                deadline, ["-XX:ArchiveClassesAtExit=" + CLASS_ARCHIVE])
    finally:
        shutil.rmtree(train, ignore_errors=True)


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, n_ops, inputs):
    """Writes the run's inputs; returns what the metrics need about them."""
    os.makedirs(inputs)
    info = {}
    if workload in ("mart_refresh", "dashboard"):
        os.symlink(snapshot(SNAPSHOT_SCALE), os.path.join(inputs, "sf"))
    if workload == "dashboard":
        gen.write_windows(os.path.join(inputs, "windows.txt"), seed, n_ops)
    if workload == "price_ingest":
        info.update(gen.write_kroger(os.path.join(inputs, "kroger"), seed,
                                     n_ops + WARM_BATCHES,
                                     INGEST_ROWS_PER_BATCH))
        info["price_rows"] = INGEST_ROWS_PER_BATCH
    return info


def snapshot(scale):
    """The fixed snapshot, generated once per checkout and version of
    gen.py (its seed is fixed, so every run reads the same tables)."""
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read() + repr(scale).encode()).hexdigest()
    path = os.path.join(WORK, f"snapshot-{key[:16]}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        gen.write_snapshot(tmp, scale)
        try:
            os.rename(tmp, path)
        except OSError:  # another run got there first
            shutil.rmtree(tmp)
    return path


def run_jvm(workload, inputs, work, out, n_ops, trace, deadline,
            jvm_flags=None):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if jvm_flags is None:
        jvm_flags = ["-XX:SharedArchiveFile=" + CLASS_ARCHIVE] \
            if os.path.exists(CLASS_ARCHIVE) else []
    cmd = ["java", f"-Xmx{JVM_HEAP}", *JVM_OPENS, *jvm_flags,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", JAR + os.pathsep + os.path.join(SPARK_JARS, "*"),
           "perfbench.Main", workload, inputs, work, out, str(n_ops),
           str(int(trace))]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        code = _run_killable(cmd, max(5, deadline - time.monotonic()),
                             stdout=err, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(out):
        tail = open(log, errors="replace").read()[-3000:]
        raise BenchError(f"{workload} run failed (exit {code}):\n{tail}")
    with open(out) as f:
        return json.load(f)


# --------------------------------------------------------------- metrics

def tail_percentile(samples, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, and its value (nearest-rank). None when there are not enough
    samples for any percentile."""
    n = len(samples)
    if n <= beyond:
        return None
    pct = math.floor(100 * (n - beyond) / n)
    rank = max(1, math.ceil(pct / 100 * n))
    return {"percentile": pct, "value": sorted(samples)[rank - 1],
            "samples": n, "samples_beyond": n - rank}


def check_ops(workload, raw, pins):
    """Marks each op ok or failed by the workload's output check."""
    verdicts = []
    seen = {}
    drift = None
    if workload == "dashboard":
        ref = raw["render_all"]
        if ref["renderAll"] != ref["composed"]:
            drift = ("the harness's five-chart composition differs from "
                     f"Dashboard.renderAll: {ref}")
    for o in raw["ops"]:
        why = o.get("error") or drift
        if not why and workload == "mart_refresh":
            want = pins.get("mart_refresh", {})
            got = {k: {"rows": v["rows"], "hash": v["hash"]}
                   for k, v in o["relations"].items()}
            bad = sorted(k for k in set(want) | set(got)
                         if want.get(k) != got.get(k))
            why = f"relations differ from pins: {bad}" if bad else None
        elif not why and workload == "dashboard":
            left = sorted(k for k, v in o["charts"].items()
                          if v.startswith("Left"))
            if left:
                why = f"charts not Right: {left}"
            for chart, digest in o["charts"].items():
                key = (chart, o["window"] if chart == "chart1_box" else "")
                if seen.setdefault(key, digest) != digest:
                    why = f"{chart} result changed for window {o['window']}"
        elif not why and workload == "price_ingest":
            diff = {k: v for k, v in o["state_diff"].items() if v}
            if o["violations"]:
                why = f"{o['violations']} schema tests failed"
            elif diff:
                why = f"raw state differs from last-write-wins: {diff}"
        verdicts.append(why)
    return verdicts


def _median(xs):
    return statistics.median(xs) if xs else None


def rollup(spans):
    """Inclusive counters per span id (self plus all descendants)."""
    incl = {s["id"]: dict(s["self"]) for s in spans}
    for s in sorted(spans, key=lambda s: -s["id"]):  # children after parents
        if s["parent"] in incl:
            for k, v in incl[s["id"]].items():
                incl[s["parent"]][k] += v
    return incl


def layer_metrics(workload, raw, ops_ok):
    """Per-layer metrics of a traced run: every span name (wall and
    counters, per op, median over traced ops) plus the attributed SQL
    executions and the workload's derived ratios."""
    trace = raw["trace"]
    spans, incl = trace["spans"], rollup(trace["spans"])
    traced_ops = sorted({s["op"] for s in spans
                         if s["op"] >= 0 and ops_ok.get(s["op"])})
    per_op = {}  # name -> op -> counters
    for s in spans:
        c = dict(incl[s["id"]], s=s["end_s"] - s["start_s"])
        acc = per_op.setdefault(s["name"], {}).setdefault(s["op"], {})
        for k, v in c.items():
            acc[k] = acc.get(k, 0) + v
    out = {}
    fields = {"s": "_s", "cpu_s": "_cpu_s", "jobs": "_jobs",
              "shuffle_write_mb": "_shuffle_mb", "spill_mb": "_spill_mb",
              "output_mb": "_output_mb", "input_mb": "_input_mb",
              "task_wait_s": "_task_wait_s"}
    for name, ops in per_op.items():
        keys = traced_ops if name != "Tables.scan" else [-1]
        rows = [ops[o] for o in keys if o in ops]
        if not rows or name == "op":
            continue
        for f, suffix in fields.items():
            out[name + suffix] = _median([r[f] for r in rows])
    root = [per_op["op"][o] for o in traced_ops if o in per_op.get("op", {})]
    generic = {"op.jobs": "jobs", "op.tasks": "tasks",
               "op.task_cpu_s": "cpu_s", "op.task_wait_s": "task_wait_s",
               "op.input_mb": "input_mb",
               "op.shuffle_write_mb": "shuffle_write_mb",
               "op.output_mb": "output_mb", "op.traced_s": "s"}
    for name, f in generic.items():
        out[name] = _median([r[f] for r in root])

    span_op = {s["id"]: s["op"] for s in spans}
    span_name = {s["id"]: s["name"] for s in spans}
    if workload == "mart_refresh":
        writes, dq = {}, {}
        for x in trace["executions"]:
            op = span_op.get(x["span"])
            if op not in traced_ops or span_name[x["span"]] != "Pipeline.run":
                continue
            d = x["end_s"] - x["start_s"]
            if x["write"]:
                key = f"Pipeline.write.{x['write']}_s"
                writes.setdefault(key, {}).setdefault(op, 0.0)
                writes[key][op] += d
            if x["reads_customer"]:
                dq[op] = dq.get(op, 0.0) + d
        for key, ops in writes.items():
            out[key] = _median(list(ops.values()))
        out["ops.Quality.dq_checks_s"] = _median(list(dq.values()))
    if workload == "dashboard":
        for name, per_op in (("jobs_per_page", "op.jobs"),
                             ("input_mb_per_page", "op.input_mb"),
                             ("cpu_s_per_page", "op.task_cpu_s"),
                             ("task_wait_s_per_page", "op.task_wait_s")):
            out["Dashboard." + name] = out[per_op]
    return out


def summarize(workload, raw, info, verdicts, trace, untraced_p50=None):
    """(end-to-end metrics, per-layer metrics, named info) of one run.
    `untraced_p50` is op_p50_s of an untraced run of the same workload and
    op count, which the tracing overhead is taken against."""
    ops = raw["ops"]
    ok = {o["op"]: v is None for o, v in zip(ops, verdicts)}
    times = [o["s"] for o, v in zip(ops, verdicts) if v is None]
    reps = raw["setup_reps_s"]
    setup = raw["session_s"] + raw["warmup_s"] + (_median(reps) or 0.0)
    p50 = _median(times)
    named = {"ops_attempted": len(ops),
             "ops_failed": sum(v is not None for v in verdicts),
             "setup_s": setup,
             "storage_mem_peak_mb": raw["storage_mem_peak_mb"]}
    if workload == "mart_refresh":
        named["refresh_s"] = p50
        # Rows Pipeline.run publishes per second of Pipeline.run: the mart
        # build alone, without the near-dup labels, corpus and shelf.
        rates = [o["run_rows"] / o["run_s"]
                 for o, v in zip(ops, verdicts) if v is None]
        throughput = _median(rates)
        named["mart_rows_per_s"] = throughput
    elif workload == "dashboard":
        named["page_load_p50_s"] = p50
        tail = tail_percentile(times)
        named["page_load_tail_s"] = tail and tail["value"]
        named["page_load_tail"] = tail
        throughput = len(times) / raw["measure_wall_s"]
        named["page_loads_per_s"] = throughput
    else:
        named["ingest_batch_p50_s"] = p50
        rows = sum(info["rows"][o["op"] + WARM_BATCHES]
                   for o, v in zip(ops, verdicts)
                   if v is None)
        throughput = rows / sum(times) if times else None
        named["ingest_rows_per_s"] = throughput
    e2e = {"setup_s": setup, "op_p50_s": p50, "throughput_per_s": throughput}
    layers = {}
    if trace:
        layers = layer_metrics(workload, raw, ok)
        named["tracing_overhead_s"] = (
            p50 - untraced_p50 if p50 and untraced_p50 else None)
        if workload == "price_ingest":
            layers.update(ingest_ratios(raw, info, verdicts))
    return e2e, layers, named


def ingest_ratios(raw, info, verdicts):
    """Write amplification, replaced-key share and raw-state growth."""
    amp, replaced, raw_rows = [], [], []
    outs = {}
    spans = raw["trace"]["spans"]
    incl = rollup(spans)
    for s in spans:
        if s["name"] == "op":
            outs[s["op"]] = incl[s["id"]]["output_mb"] * 1e6
    before = raw["warm_raw_rows"]
    for o, v in zip(raw["ops"], verdicts):
        if v is not None:
            break
        b = o["op"] + WARM_BATCHES
        if o["op"] in outs:
            amp.append(outs[o["op"]] / info["bytes"][b])
        replaced.append((before + info["price_rows"] - o["raw_rows"]) /
                        info["price_rows"])
        raw_rows.append(o["raw_rows"])
        before = o["raw_rows"]
    return {"ingest.write_amp": _median(amp),
            "ingest.upsert_replaced_share": _median(replaced),
            "ingest.raw_rows": raw_rows[-1] if raw_rows else None,
            "ingest.raw_rows_by_batch": raw_rows}


def report(workload, raw, info, pins, trace, seed, seconds,
           untraced_p50=None):
    """(the named-metrics line, the result line, failure messages)."""
    verdicts = check_ops(workload, raw, pins)
    e2e, layers, named = summarize(workload, raw, info, verdicts, trace,
                                   untraced_p50)
    failures = [f"op {o['op']} failed: {why}"
                for o, why in zip(raw["ops"], verdicts) if why]
    named.update(calibration_s=raw["calibration_s"], seed=seed,
                 seconds=seconds)
    named_line = {"workload": workload, "named": named,
                  "layers": layers if trace else None}
    if trace:
        metrics = {n: {"value": layers.get(n), "unit": u}
                   for n, u in declared("per_layer")}
    else:
        metrics = {n: {"value": e2e[n], "unit": u}
                   for n, u in declared("end_to_end")}
    failed = named["ops_failed"]
    complete = all(m["value"] is not None for m in metrics.values())
    result = {"correct": failed == 0 and complete,
              "attempted": named["ops_attempted"], "failed": failed,
              "metrics": metrics}
    return named_line, result, failures


def last_untraced_p50(workload, n_ops, pins):
    """op_p50_s of the latest untraced run of `workload` in this checkout,
    when it ran the same number of ops."""
    path = os.path.join(WORK, f"last-{workload}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        raw = json.load(f)
    if len(raw["ops"]) != n_ops:
        return None
    verdicts = check_ops(workload, raw, pins)
    return _median([o["s"] for o, v in zip(raw["ops"], verdicts)
                    if v is None])


def declared(section):
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[section]]


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    start = time.monotonic()
    missing = [p for p in ("build.sbt", "src/main/scala/graft/Pipeline.scala",
                           "BENCHMARK.json")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"run from the root of a checkout: missing {missing}",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    want = source_hash(root)
    deadline = start + (DEADLINE_S if built(want) else BUILD_DEADLINE_S)
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    try:
        build(want, deadline)
        n_ops = op_count(a.workload, a.seconds)
        inputs = os.path.join(run_dir, "inputs")
        info = make_inputs(a.workload, a.seed, n_ops, inputs)
        out = os.path.join(run_dir, "result.json")
        raw = run_jvm(a.workload, inputs, os.path.join(run_dir, "work"),
                      out, n_ops, a.trace, deadline)
    except BenchError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        keep = os.path.join(run_dir, "result.json")
        if os.path.exists(keep):
            shutil.copy(keep, os.path.join(
                WORK, f"last-{a.workload}-trace{a.trace}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(PINS) as f:
        pins = json.load(f)
    named_line, result, failures = report(
        a.workload, raw, info, pins, a.trace, a.seed, a.seconds,
        last_untraced_p50(a.workload, len(raw["ops"]), pins) if a.trace
        else None)
    for why in failures:
        print(why, file=sys.stderr)
    print(json.dumps(named_line, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
