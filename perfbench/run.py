#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, correctness checked.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload {etl_versioned,corpus_dedup,index_serve}
                           --seed N --seconds S --trace {0,1}

Builds the program from source (perfbench/build.py), makes the workload's
inputs from the seed (perfbench/gen.py), runs the workload in one JVM
sized for this machine, checks its outputs (perfbench/checks.py) and
prints a report followed by one JSON line: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("etl_versioned", "corpus_dedup", "index_serve")
JVM_TIMEOUT_S = 165
SCALE_REPLICAS = 2  # corpus_dedup: graft.ScaleUp copies of the seeded base corpus
# the op kind behind op_p50_s, and the kinds whose time rows_per_s
# divides by: on index_serve the whole round, so query speed bought with
# append or compaction time shows
OP_KIND = {"etl_versioned": "batch", "corpus_dedup": "pass", "index_serve": "query"}
ROW_KINDS = {"etl_versioned": {"batch"}, "corpus_dedup": {"pass"}, "index_serve": {"append", "query", "compact"}}
# a figure that falls on a failed op reads as the largest double, so it
# stays a JSON number
FAILED_VALUE = sys.float_info.max
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def tail(xs):
    """The highest percentile with at least ten samples beyond it, and never
    below the median (with fewer than 21 samples: the median); returns
    (value, percentile)."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return statistics.median(s), 0.5
    return s[n - 11], (n - 10) / n


def run_jvm(workload, data, seconds, trace, heap_mb):
    out = os.path.join(data, "result.json")
    tmp = os.path.join(data, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{heap_mb}m", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", "--workload", workload, "--data", data,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores()),
            "--spans", os.path.join(build.BUILD_DIR, f"spans-{workload}.json")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=os.path.join(data, "spark-local"))
    env.pop("SPARK_GRAFT_OBSERVE", None)
    if trace:
        env["SPARK_GRAFT_OBSERVE"] = "1"  # graft.Volumes counters, traced run only
    if workload == "corpus_dedup":
        env.update(SPARK_GRAFT_SCALE_REPLICAS=str(SCALE_REPLICAS), SPARK_GRAFT_SCALE_TABLES="embeddings,documents")
    log = open(os.path.join(data, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=data, env=env,
                            start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    # a terminated benchmark takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(3)))
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
    except KeyboardInterrupt:
        stop()
        raise
    finally:
        log.close()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(data, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"workload JVM exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def samples(res, kind, failed):
    """Latencies of the timed ops of `kind`; a failed op reads as +inf, so
    it counts as missing every percentile."""
    return [math.inf if i in failed else o["s"] for i, o in enumerate(res["ops"]) if o["kind"] == kind and o["timed"]]


def end_to_end(workload, res, failed):
    """Every end-to-end metric, generic names first (BENCHMARK.json), then
    the workload's own named figures for the report."""
    kind = OP_KIND[workload]
    ops = samples(res, kind, failed)
    if not ops:
        fail(f"no timed {kind} completed")
    tail_v, tail_p = tail(ops)
    row_ops = [(i, o) for i, o in enumerate(res["ops"]) if o["kind"] in ROW_KINDS[workload] and o["timed"]]
    # rows of the ops that succeeded over the time of all of them
    rows = sum(o["rows"] for i, o in row_ops if i not in failed)
    m = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (rows / sum(o["s"] for _, o in row_ops), "rows/s"),
        "peak_exec_mem_mb": (res["info"]["peak_exec_mem_bytes"] / 2**20, "MB"),
    }
    named = {"ops_failed_frac": (len(failed) / len(res["ops"]), "1")}
    counts = {kind: len(ops)}
    if workload == "etl_versioned":
        named.update(etl_batch_p50_s=m["op_p50_s"], etl_batch_tail_s=m["op_tail_s"], etl_rows_per_s=m["rows_per_s"])
    elif workload == "corpus_dedup":
        named.update(dedup_pass_s=m["op_p50_s"], dedup_docs_per_s=m["rows_per_s"],
                     dedup_build_s=(res["build_s"], "s"))
    else:
        named.update(query_p50_s=m["op_p50_s"], query_tail_s=m["op_tail_s"], index_build_s=(res["build_s"], "s"),
                     index_bytes_per_row=(res["info"]["index_bytes"] / res["info"]["index_rows"], "B"))
        for k in ("append", "compact"):
            xs = samples(res, k, failed)
            counts[k] = len(xs)
            if xs:
                named[f"{k}_p50_s"] = (statistics.median(xs), "s")
    named["peak_exec_mem_mb"] = m["peak_exec_mem_mb"]
    return m, named, counts, tail_p


def number(v):
    return float(v) if math.isfinite(v) else FAILED_VALUE


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    import checks  # noqa: E402  (needs duckdb/pyarrow; imported after the source check)
    import gen  # noqa: E402

    data = os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    try:
        t0 = time.time()
        if a.workload == "etl_versioned":
            gen.census_inputs(data, a.seed, n_batches=40)
        elif a.workload == "corpus_dedup":
            gen.corpus_base(os.path.join(data, "base"), a.seed)
        else:
            spec = gen.index_inputs(data, a.seed, n_batches=16)
            with open(os.path.join(data, "queries.json"), "w") as fh:
                json.dump(spec, fh)
        gen_s = time.time() - t0
        res = run_jvm(a.workload, data, a.seconds, a.trace, heap_mb=3072)
        failed = checks.run(a.workload, data, res)
        m, named, counts, tail_p = end_to_end(a.workload, res, failed)
    finally:
        shutil.rmtree(data, ignore_errors=True)

    info = res["info"]
    print(f"[perfbench] workload={a.workload} seed={a.seed} trace={a.trace} nproc={os.cpu_count()} "
          f"local[{info['cores']}] heap={info['heap_mb']}MB spark={info['spark_version']} "
          f"input_gen_s={gen_s:.2f} setup_s={[round(x, 2) for x in res['setup_s']]} build_s={res['build_s']:.2f} "
          f"window_s={res['window_s']:.2f} check_s={info['check_s']:.2f}")
    attempted = len(res["ops"])
    print(f"[perfbench] samples {counts}; tail = p{round(tail_p * 100)}; "
          f"attempted={attempted} failed={len(failed)}")
    for e in res["errors"]:
        print(f"[perfbench] error: {e}")
    for k, (v, unit) in named.items():
        print(f"[perfbench] {k} = {v:.6g} {unit}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.trace:
        layers = dict(info.get("layers", {}))
        layers.update(traced_end_to_end(m))
        metrics = {x["name"]: {"value": number(layers.get(x["name"], 0.0)), "unit": x["unit"]} for x in spec["per_layer"]}
    else:
        metrics = {x["name"]: {"value": number(m[x["name"]][0]), "unit": x["unit"]} for x in spec["end_to_end"]}
    out = {"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": metrics}
    print(json.dumps(out))


def traced_end_to_end(m):
    """The end-to-end metrics as measured in the traced run; tracing
    overhead = these minus the untraced run's."""
    return {f"trace.{k}": v for k, (v, _) in m.items()}


if __name__ == "__main__":
    main()
