"""graft benchmark: one seeded workload, a closed loop of calls into
graft's layers, every result checked, every metric printed by name.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Runs from the root of a graft checkout: builds the classes (perfbench/
build.py), generates the workload's inputs from the seed (gen.py),
runs the JVM side (scala/GraftBench.scala) on a pinned heap with
local[min(4, nproc)] task slots, then computes the expected results
(reference.py) and checks every call against them. The JVM runs one
untimed warm-up pass, then timed passes for --seconds. The last stdout
line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402

HEAP = "1g"
# what spark-submit passes to a JDK 17 driver
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 130
REFERENCE_TIMEOUT_S = 20

# the spans of each workload, in call order
SPANS = {
    "seafan-pipeline": [
        "io.Sources.parquetToPipe", "frame.SeaFrame.sort",
        "exprlang.Formula.addToPipe", "encode.Encode.fitEncode",
        "ml.ModSpec.fitNative", "ml.NativeModel.transform",
        "functions.Stats.assess", "ml.Diagnostics.marginal",
        "io.Sources.pipeToParquet"],
    "pair-census": [
        "ops.Graph.commonNeighbors", "ops.Graph.linkScores",
        "llmdata.TextAnalysis.winnowSimilarity",
        "llmdata.Dedup.containmentJoin"],
}
SPAN_METRICS = [("wall_ms", "ms"), ("jobs", "count"), ("task_cpu_ms", "ms"),
                ("driver_ms", "ms"), ("shuffle_write_mb", "MB"),
                ("spill_mb", "MB")]
EXTRA_METRICS = {
    "pair-census": [("task_skew", "ratio"),
                    ("shuffle_recs_per_out_row", "ratio")],
}
# the span whose quality value is the workload's model_auc
AUC_SOURCE = {
    "seafan-pipeline": ("ml.NativeModel.transform", "auc"),
    "pair-census": ("ops.Graph.linkScores", "twin_auc"),
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("cpu_s", "s"),
              ("heap_peak_mb", "MB"), ("success_rate", "fraction"),
              ("model_auc", "fraction")]


def per_layer_names():
    """(name, unit) of every per-layer metric, across all workloads."""
    out = []
    for wl, spans in SPANS.items():
        for span in spans:
            for m, unit in SPAN_METRICS + EXTRA_METRICS.get(wl, []):
                out.append((f"{span}.{m}", unit))
    for wl in SPANS:
        out.append((f"spark.{wl}.codegen_compiles", "count"))
        out.append((f"caches.{wl}.pins_after_pass", "count"))
    out.append(("trace.overhead_ms", "ms"))
    return out


def median(xs):
    xs = [x for x in xs if x is not None and not math.isnan(x)]
    return statistics.median(xs) if xs else float("nan")


def score(workload, doc, expected):
    """Check every timed operation; returns (attempted, failed, errors,
    passes) where each pass carries an "ok" flag."""
    attempted = failed = 0
    errors = []
    for p in doc["passes"]:
        p["ok"] = True
        seen = {op["span"] for op in p["ops"]}
        missing = [s for s in SPANS[workload] if s not in seen]
        for op in p["ops"]:
            attempted += 1
            bad = reference.check_op(expected.get(op["span"], {}), op)
            if bad:
                failed += 1
                p["ok"] = False
                errors.append(f"pass {p['pass']} {op['span']}: "
                              + "; ".join(bad))
        for s in missing:
            attempted += 1
            failed += 1
            p["ok"] = False
            errors.append(f"pass {p['pass']} {s}: not run")
    return attempted, failed, errors, doc["passes"]


def timed(passes):
    """The passes after the warm-up: the warm-up is checked, not timed."""
    return [p for p in passes if not p.get("warmup")]


def end_to_end(workload, doc, passes, attempted, failed):
    plain = [p for p in timed(passes) if not p["traced"]]
    good = [p for p in plain if p["ok"]]
    span, key = AUC_SOURCE[workload]
    aucs = [op["values"].get(key) for p in passes if p["ok"]
            for op in p["ops"] if op["span"] == span]
    vals = {
        "setup_s": doc["setup_s"],
        # a failed pass is never timed as a success
        "pass_s": median([p["wall_s"] for p in good]),
        "cpu_s": median([p["cpu_s"] for p in good]),
        "heap_peak_mb": median([p["heap_peak_mb"] for p in good]),
        "success_rate": (attempted - failed) / attempted,
        "model_auc": median(aucs),
    }
    return {n: {"value": vals[n], "unit": u} for n, u in END_TO_END}


def per_layer(workload, passes):
    # medians over the traced passes, which alternate with untraced ones
    passes = timed(passes)
    traced = [p for p in passes if p["traced"]]
    vals = {n: 0.0 for n, _ in per_layer_names()}
    for span in SPANS[workload]:
        layer = [op["layer"] for p in traced for op in p["ops"]
                 if op["span"] == span and "layer" in op]
        for m, _ in SPAN_METRICS + EXTRA_METRICS.get(workload, []):
            vals[f"{span}.{m}"] = median([x.get(m) for x in layer])
    vals[f"spark.{workload}.codegen_compiles"] = median(
        [p["codegen_compiles"] for p in traced])
    vals[f"caches.{workload}.pins_after_pass"] = median(
        [p["pins_after_pass"] for p in traced])
    # each traced pass against the mean of the untraced passes on either
    # side of it
    vals["trace.overhead_ms"] = 1e3 * median([
        p["wall_s"] - (passes[i - 1]["wall_s"] + passes[i + 1]["wall_s"]) / 2
        for i, p in enumerate(passes)
        if p["traced"] and 0 < i < len(passes) - 1])
    return {n: {"value": vals[n], "unit": u} for n, u in per_layer_names()}


def steal_s():
    """Host CPU time stolen from this VM so far (Linux /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def run_jvm(classes, args, log_path):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.dirname(log_path)}"]
           + ADD_OPENS
           + ["-cp", build.classpath(classes), "graftbench.GraftBench"]
           + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    return rc


def compute_reference(workload, data, out):
    """reference.expected in a child process, so that a stuck DuckDB query
    costs a retry instead of the run."""
    for attempt in (1, 2):
        try:
            subprocess.run([sys.executable, os.path.join(HERE, "reference.py"),
                            workload, data, out],
                           check=True, timeout=REFERENCE_TIMEOUT_S)
            with open(out) as f:
                return json.load(f)
        except subprocess.TimeoutExpired:
            print(f"[bench] reference timed out (attempt {attempt})",
                  file=sys.stderr)
    raise RuntimeError("reference computation timed out twice")


def run_once(a, classes, build_s, work):
    """Generate the inputs, run the JVM, then compute the reference;
    returns the JVM's result document (None when it failed), the input
    digest and the expectations. Keeps the span trace under
    .bench_build/traces."""
    data = os.path.join(work, "data")
    gen.generate(a.workload, a.seed, data)
    input_digest = gen.input_digest(data)

    out = os.path.join(work, "result.json")
    # set-up is timed from process start, less the build
    t0_ms = int((T0 + build_s) * 1000)
    args = ["--workload", a.workload, "--data", data, "--out", out,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--t0-ms", str(t0_ms)]
    if a.inject:
        args += ["--inject", a.inject]
    log_path = os.path.join(work, "jvm.log")
    st0 = steal_s()
    rc = run_jvm(classes, args, log_path)
    stolen = steal_s() - st0
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"\n[bench] JVM failed: {rc}\n")
        return None, input_digest, None
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(
        traces, f"{a.workload}-seed{a.seed}-trace{a.trace}.jsonl"))
    with open(out) as f:
        doc = json.load(f)
    doc["conditions"]["steal_s"] = stolen
    # the checker's work, after the program's and outside set-up
    expected = compute_reference(a.workload, data,
                                 os.path.join(work, "expected.json"))
    return doc, input_digest, expected


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default=None,
                    help="fault injection for self-tests: <span>=throw|wrong")
    a = ap.parse_args(argv)

    b0 = time.time()
    classes = build.build()
    build_s = time.time() - b0

    work = os.path.join(build.BUILD, "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        doc, input_digest, expected = run_once(a, classes, build_s, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if doc is None:
        return 2

    attempted, failed, errors, passes = score(a.workload, doc, expected)
    for e in errors[:20]:
        print(f"[bench] FAILED {e}", file=sys.stderr)
    metrics = (per_layer(a.workload, passes) if a.trace
               else end_to_end(a.workload, doc, passes, attempted, failed))

    cond = doc["conditions"]
    warnings = [f"load average {cond[k]:.2f} at {k} exceeds {cond['cores']} "
                "cores: ambient contention likely"
                for k in ("load_start", "load_at_run", "load_end")
                if cond[k] > cond["cores"]]
    cond.update(conditions_ok=not warnings, condition_warnings=warnings)
    plain = [p for p in timed(passes) if not p["traced"]]
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "input_digest": input_digest,
        "error_rate": failed / attempted,
        "passes": len(passes), "untraced_passes": len(plain),
        "pass_s_samples": [p["wall_s"] for p in plain],
        "cpu_s_samples": [p["cpu_s"] for p in plain],
        "heap_peak_mb_samples": [p["heap_peak_mb"] for p in plain],
        "build_s": build_s, "conditions": doc["conditions"],
        "errors": errors[:20]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
