#!/usr/bin/env python3
"""Layer-attributed benchmark of graft.

Run from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark program from source when the sources changed
(sbt, offline, into perfbench/target), generates the workload's seeded
inputs, runs one JVM, checks the outputs, and prints one JSON object as the
last line of stdout. With --trace 0 it reports the end-to-end metrics; with
--trace 1 it runs an untraced and then a traced phase, reports the per-layer
metrics, and writes spans, self times and the tracing overhead to
perfbench/work/<workload>/trace.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("lake_etl", "ais_queries")
# a run must end within 180 s; generation and checks take the rest
JVM_TIMEOUT_S = 165
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources():
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True) +
                   glob.glob(f"{BENCH}/src/**/*.scala", recursive=True) +
                   [f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft's main sources with the benchmark program; returns the
    runtime classpath. Skipped when the sources are unchanged."""
    if not os.path.isdir(f"{ROOT}/src/main/scala/graft"):
        raise SystemExit(f"graft sources not found under {ROOT}/src/main/scala")
    stamp, cp_file = f"{BENCH}/target/bench.stamp", f"{BENCH}/target/bench.classpath"
    digest = _sources()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    log("building graft + benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Xmx3g"))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("benchmark build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


# ------------------------------------------------------------------ checks

def _norm(df):
    """Order-free canonical form: columns by name, values stringified. The
    same form as tools/oracle_check.py, kept here so that the benchmark does
    not change when the repository's tools do."""
    df = df[sorted(df.columns)]
    return sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False))


def oracle_check(work, oracle_sql):
    """Names of the queries whose written result differs from the DuckDB
    oracle over the same generated tables."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(f"{work}/inputs/main/*.parquet"):
        t = os.path.basename(f).split(".")[0]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    bad = {}
    for q, sql in sorted(oracle_sql.items()):
        parts = glob.glob(f"{work}/out/{q}/*.parquet")
        try:
            got = con.execute(f"SELECT * FROM read_parquet({parts!r})").fetchdf() if parts else None
            want = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle or read error is a failed check
            bad[q] = f"error: {e}"[:300]
            continue
        if got is None:
            bad[q] = "no result written"
        elif sorted(got.columns) != sorted(want.columns):
            bad[q] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif _norm(got) != _norm(want):
            bad[q] = f"rows differ ({len(got)} vs {len(want)})"
    con.close()
    return bad


# ------------------------------------------------------------------ metrics

def _p(xs, q):
    """Quantile q (0..1) by linear interpolation between order statistics."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q
    i = int(k)
    return xs[i] + (xs[min(i + 1, len(xs) - 1)] - xs[i]) * (k - i)


def end_to_end(phase, setup_s):
    ok = [o for o in phase["ops"] if o["ok"]] or phase["ops"]
    walls = [o["wallS"] for o in ok]
    return {"setup_s": setup_s,
            "op_s_gmean": math.exp(sum(math.log(w) for w in walls) / len(walls)),
            "op_s_p75": _p(walls, 0.75),
            "op_cpu_s": sum(o["cpuS"] for o in ok) / len(ok),
            "heap_peak_mb": phase["heap_peak_mb"]}


E2E_UNITS = {"setup_s": "s", "op_s_gmean": "s", "op_s_p75": "s", "op_cpu_s": "s",
             "heap_peak_mb": "MB"}

LAYER_UNITS = {
    "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "driver.gap_s": "s", "driver.plan_s": "s", "driver.codegen_compiles": "count",
    "driver.codegen_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.core_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.write_s": "s", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "bytes",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count", "sources.scan_s": "s",
    "sources.write_s": "s", "sources.write_bytes": "bytes", "sources.write_files": "count",
    "sources.state_merge_s": "s", "sources.lake_bytes_per_raw_byte": "ratio",
    "pipelines.staging_s": "s", "pipelines.curated_s": "s",
    "operators.agg_s": "s", "operators.sort_s": "s", "operators.join_build_s": "s",
    "operators.wscg_s": "s",
    "cache.build_s": "s", "cache.peak_mb": "MB", "cache.blocks_written": "count",
    "cache.scan_rows": "count",
    "streaming.add_batch_s": "s", "streaming.plan_s": "s", "streaming.commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.state_commit_s": "s", "streaming.late_rows_dropped": "count",
}


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_")))


def per_layer(result, phase, work, manifest):
    """Per-layer metrics of the traced phase, per operation unless the unit
    says otherwise (peaks, ratios and the set-up's shared-stage builds)."""
    t, x, spans = phase["totals"], phase["extra"], phase["spans"]
    n = max(1, len(phase["ops"]))
    op_wall = sum(o["wallS"] for o in phase["ops"])

    def span_s(pred):
        return sum(s["dur_ms"] for s in spans if pred(s)) / 1e3 / n

    is_write = lambda s: s["layer"] == "sources" and ("write" in s["name"].lower())
    lake_ratio = 0.0
    if result["workload"] == "lake_etl":
        lake = sum(_dir_bytes(f"{work}/lake/{p}") for p in ("staging", "curated"))
        lake_ratio = lake / manifest["main"]["bytes"]
    m = {
        "driver.jobs": t["jobs"] / n, "driver.stages": t["stages"] / n,
        "driver.tasks": t["tasks"] / n, "driver.gap_s": t["gap_ms"] / 1e3 / n,
        "driver.plan_s": t["plan_ms"] / 1e3 / n,
        "driver.codegen_compiles": t["codegen_compiles"] / n,
        "driver.codegen_s": t["codegen_ns"] / 1e9 / n,
        "exec.task_run_s": t["run_ns"] / 1e9 / n, "exec.task_cpu_s": t["cpu_ns"] / 1e9 / n,
        "exec.gc_s": t["gc_ms"] / 1e3 / n,
        "exec.core_util": t["run_ns"] / 1e9 / max(1e-9, op_wall * result["cores"]),
        "shuffle.write_bytes": t["sh_write_bytes"] / n, "shuffle.write_s": t["sh_write_ns"] / 1e9 / n,
        "shuffle.read_bytes": t["sh_read_bytes"] / n, "shuffle.fetch_wait_s": t["fetch_wait_ms"] / 1e3 / n,
        "shuffle.spill_bytes": t["spill_bytes"] / n,
        "sources.scan_bytes": t["in_bytes"] / n, "sources.scan_rows": t["in_rows"] / n,
        "sources.scan_s": t["scan_ms"] / 1e3 / n,
        "sources.write_s": span_s(is_write),
        "sources.write_bytes": max(t["write_bytes"], t["out_bytes"]) / n,
        "sources.write_files": t["write_files"] / n,
        "sources.state_merge_s": span_s(lambda s: s["name"] == "StateStore.merge"),
        "sources.lake_bytes_per_raw_byte": lake_ratio,
        "pipelines.staging_s": span_s(lambda s: s["name"] == "staging"),
        "pipelines.curated_s": span_s(lambda s: s["name"] == "curated"),
        "operators.agg_s": t["agg_ms"] / 1e3 / n, "operators.sort_s": t["sort_ms"] / 1e3 / n,
        "operators.join_build_s": t["join_build_ms"] / 1e3 / n,
        "operators.wscg_s": t["wscg_ms"] / 1e3 / n,
        "cache.build_s": x.get("cache.build_s", 0.0), "cache.peak_mb": phase["cache_peak_mb"],
        "cache.blocks_written": t["blocks_written"] / n, "cache.scan_rows": t["cache_scan_rows"] / n,
    }
    for k in ("streaming.add_batch_s", "streaming.plan_s", "streaming.commit_s",
              "streaming.state_commit_s", "streaming.late_rows_dropped"):
        m[k] = x.get(k, 0.0) / n
    m["streaming.state_rows"] = x.get("streaming.state_rows", 0.0)
    m["streaming.state_mb"] = x.get("streaming.state_mb", 0.0)
    return m


def repeat_flags(ops):
    """Operations whose job/stage/task counts differ between repetitions."""
    seen = {}
    for o in ops:
        d = o["detail"]
        if "jobs" in d:
            seen.setdefault(o["name"], set()).add((d["jobs"], d["stages"], d["tasks"]))
    return {k: sorted(v) for k, v in seen.items() if len(v) > 1}, \
        {k: sorted(v)[0] for k, v in seen.items() if len(v) == 1}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = f"{BENCH}/work/{a.workload}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    manifest, gen_s = gen.generate_timed(a.workload, a.seed, f"{work}/inputs")
    with open(f"{work}/manifest.json", "w") as f:
        json.dump(manifest, f)

    cmd = (["java", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main", a.workload, work, str(a.seconds), str(a.trace),
            str(a.seed)])
    launched = time.time()
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark JVM timed out")
    if rc != 0 or not os.path.exists(f"{work}/result.json"):
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    r = json.load(open(f"{work}/result.json"))

    # failed = operations that threw or whose output failed its check
    ops = [o for ph in r["phases"] for o in ph["ops"]]
    wrong_names = set()
    if a.workload == "ais_queries":
        bad = oracle_check(work, r["check"]["oracle_sql"])
        r["check"]["oracle_failed"] = bad
        wrong_names = set(bad) | set(r["check"]["unstable"])
        del r["check"]["oracle_sql"]
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong_names)
    else:
        failed = min(len(ops), sum(1 for o in ops if not o["ok"]) + r["wrong_ops"])

    setup_s = gen_s + (r["setup_done_ms"] / 1e3 - launched)
    plain = end_to_end(r["phases"][0], setup_s)
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "cores": r["cores"], "session_conf": r["conf"], "inputs": manifest,
              "generate_s_median": gen_s, "setup": r["setup"], "check": r["check"],
              "ops": len(ops), "failed": failed, "end_to_end": plain}
    if a.trace:
        traced = r["phases"][1]
        layers = per_layer(r, traced, work, manifest)
        e2e_traced = end_to_end(traced, setup_s)
        flaky, steady = repeat_flags(traced["ops"])
        report.update({
            "per_layer": layers,
            "tracing_overhead": {k: e2e_traced[k] - plain[k] for k in plain},
            "counts_per_op": steady, "counts_not_repeating": flaky,
            "layer_map": json.load(open(f"{BENCH}/layers.json"))})
        with open(f"{work}/trace.json", "w") as f:
            json.dump(dict(report, spans=traced["spans"]), f, indent=1)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in
                   ((k, (layers[k], unit)) for k, unit in LAYER_UNITS.items())}
        log(f"traced: {len(traced['ops'])} ops, overhead "
            + ", ".join(f"{k} {v:+.4f}" for k, v in report["tracing_overhead"].items()))
        if flaky:
            log(f"job/stage/task counts that did not repeat: {flaky}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in plain.items()}
    with open(f"{work}/report.json", "w") as f:
        json.dump(report, f, indent=1)
    if wrong_names:
        log(f"output checks failed for: {sorted(wrong_names)}")
    log(f"{a.workload} seed={a.seed}: {len(ops)} ops, {failed} failed; "
        + ", ".join(f"{k}={v['value']:.4g}" for k, v in metrics.items()))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
