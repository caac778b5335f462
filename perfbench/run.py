#!/usr/bin/env python3
"""graft per-change benchmark: one workload, one seed, one closed-loop run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine together with the benchmark's JVM runner from source (once per
source state), generates the workload's inputs from the seed, runs the
runner on local[nproc] with one client thread, checks every op's output
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from the traced run. Everything else (every op, its
failure reason, spans, counts) goes to .perfbench/artifacts/. The exit
code is non-zero when any op throws or fails its output check.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["search_serving", "asset_etl", "asset_sync", "library_mix"]
RUN_BUDGET_S = 170  # a run must end within 180 s, not counting the build
CHECK_RESERVE_S = 15
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every source and build file the runner is compiled from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile (if the sources changed) and return the runner's classpath."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building the engine and the benchmark runner (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, logfile, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dderby.system.home=" + os.path.join(WORK, "derby"), "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=WORK)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def primary_samples(workload, ops):
    """Latency samples of the workload's user-visible op, in ms: a search
    request, an ETL job, an upsert-then-read round, a library query."""
    ok = [o for o in ops if o["phase"] == "timed" and not o.get("error") and not o.get("failed")]
    if workload != "asset_sync":
        return [o["ms"] for o in ok]
    by_round = {}
    for o in ok:
        by_round.setdefault(o["extra"]["round"], []).append(o["ms"])
    return [sum(v) for v in by_round.values() if len(v) == 2]


def end_to_end(workload, res, ops, gen_ms):
    setup = res["setup"]
    setup_s = (gen_ms + setup["session_ms"] + setup["init_ms"] + setup["warm_ms"]) / 1000.0
    samples = primary_samples(workload, ops)
    loop_s = res["loop_ms"] / 1000.0
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": stats.median(samples), "unit": "ms"},
        "ops_per_s": {"value": len(samples) / loop_s if loop_s > 0 else 0.0, "unit": "1/s"},
    }


def detail(workload, res, ops, manifest):
    """Workload-specific figures kept in the artifact: per-kind medians and
    tails (with percentile and sample count), sink and cache figures."""
    out = {}
    timed = [o for o in ops if o["phase"] == "timed" and not o.get("error") and not o.get("failed")]
    kinds = sorted({o["kind"] for o in timed})
    for k in kinds + (["round"] if workload == "asset_sync" else []):
        xs = ([o["ms"] for o in timed if o["kind"] == k] if k != "round"
              else primary_samples(workload, ops))
        t = stats.tail(xs)
        out[k] = {"n": len(xs), "p50_ms": stats.median(xs),
                  "tail_ms": t[0] if t else None, "tail_pct": t[1] if t else None,
                  "tail_beyond": t[2] if t else None}
    if workload == "asset_etl" and timed:
        secs = sum(o["ms"] for o in timed) / 1000.0
        out["etl_rows_per_s"] = manifest["rows_per_job"] * len(timed) / secs
        out["etl_job_p50_s"] = stats.median([o["ms"] for o in timed]) / 1000.0
    if workload == "asset_sync":
        ups = [o for o in timed if o["kind"] == "upsert"]
        if ups:
            last = ups[-1]["extra"]
            out["store_bytes_per_user_byte"] = last["store_bytes"] / (
                os.path.getsize(manifest["state"]) + sum(o["extra"]["user_bytes"] for o in ups))
            out["compactions"] = sum(1 for o in ups if o["extra"]["compacted"])
    out["cache_mb"] = res["store"]["cached_bytes"] / 1e6
    return out


LAYERS = ["sources", "operators", "plans", "catalyst", "execution", "sink", "harness"]
COUNT_KEYS = ["jobs", "stages", "tasks", "task_ms", "cpu_ms", "gc_ms", "input_bytes",
              "input_rows", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "failed_tasks"]


def layer_profile(res, ops):
    """Per-layer figures of a traced run, averaged per timed op: self time
    and share of op wall per layer, the Spark counts attributed to each
    layer's spans, Catalyst phase times, and span coverage of op wall."""
    timed = {o["op"] for o in ops if o["phase"] == "timed" and not o.get("error")}
    spans = [s for s in res["spans"] if s["op"] in timed]
    selfs = stats.self_times(spans)
    n = max(1, len(timed))
    ops_spans = {s["op"]: s for s in spans if s["name"] == "op"}
    wall = sum(s["end_ms"] - s["start_ms"] for s in ops_spans.values())
    prof = {"ops": len(timed), "op_wall_ms": wall / n}
    covs = [stats.coverage(s, spans) for s in ops_spans.values()]
    prof["coverage_min"] = min(covs) if covs else None
    prof["coverage_mean"] = sum(covs) / len(covs) if covs else None
    for layer in LAYERS:
        mine = [s for s in spans if s["name"] == layer]
        ms = sum(s["end_ms"] - s["start_ms"] for s in mine)
        counts = {k: 0 for k in COUNT_KEYS}
        for s in mine:
            for k, v in res["counts"].get(str(s["id"]), {}).items():
                counts[k] += v
        prof[layer] = dict({"ms": ms / n, "self_ms": sum(selfs[s["id"]] for s in mine) / n,
                            "share": ms / wall if wall else 0.0, "spans": len(mine)},
                           **{k: v / n for k, v in counts.items()})
    ex = prof["execution"]
    ex["core_busy"] = (ex["task_ms"] / (ex["ms"] * res["cpus"])) if ex["ms"] else 0.0
    phases = [v for k, v in res["catalyst"].items() if int(k) in timed]
    for ph in ["analysis", "optimization", "planning"]:
        prof["catalyst"][ph + "_ms"] = sum(p[ph] for p in phases) / n
    return prof


def per_layer(res, prof, gen_ms, ops):
    """The per-layer metrics of a traced run. Times are only given for
    layers every workload enters; a layer some workloads never enter is
    given as its share of op wall time, with its Spark counts."""
    timed = [o for o in ops if o["phase"] == "timed" and not o.get("error")]
    written = sum(o.get("extra", {}).get("bytes_written", 0) for o in timed)
    all_task_ms = sum(prof[l]["task_ms"] for l in LAYERS)
    ex = prof["execution"]
    m = {
        "harness.session_ms": (res["setup"]["session_ms"], "ms"),
        "harness.gen_ms": (gen_ms + res["setup"]["init_ms"], "ms"),
        "harness.warm_ms": (res["setup"]["warm_ms"], "ms"),
        "sources.ms": (prof["sources"]["ms"], "ms"),
        "sources.jobs": (prof["sources"]["jobs"], "count"),
        "operators.build_jobs": (prof["operators"]["jobs"], "count"),
        "operators.build_task_share": (prof["operators"]["task_ms"] / all_task_ms
                                       if all_task_ms else 0.0, "ratio"),
        "plans.compile_jobs": (prof["plans"]["jobs"], "count"),
        "catalyst.analysis_ms": (prof["catalyst"]["analysis_ms"], "ms"),
        "catalyst.optimization_ms": (prof["catalyst"]["optimization_ms"], "ms"),
        "catalyst.planning_ms": (prof["catalyst"]["planning_ms"], "ms"),
        "execution.ms": (ex["ms"], "ms"),
        "execution.core_busy": (ex["core_busy"], "ratio"),
        "sink.jobs": (prof["sink"]["jobs"], "count"),
        "sink.bytes_written": (written / max(1, prof["ops"]), "bytes"),
        "store.cached_blocks": (res["store"]["cached_blocks"], "count"),
        "store.cached_bytes": (res["store"]["cached_bytes"], "bytes"),
        "trace.coverage_min": (prof["coverage_min"], "ratio"),
    }
    for k in COUNT_KEYS:
        unit = "ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes") else "count"
        m["execution." + k] = (ex[k], unit)
    for layer in LAYERS:
        m[layer + ".share"] = (prof[layer]["share"], "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--break-op", type=int, default=None,
                    help="make the op at this index throw (tests the failure path)")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found under %s/src/main/scala" % ROOT)
    cp = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    run_id = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    inputs = os.path.join(WORK, "inputs", run_id)
    work = os.path.join(WORK, "run", run_id)
    for d in (inputs, work):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)

    g0 = time.perf_counter()
    manifest = gen.generate(a.workload, a.seed, inputs)
    gen_ms = (time.perf_counter() - g0) * 1000.0

    results = os.path.join(work, "results.json")
    args = ["--workload", a.workload, "--inputs", inputs, "--work", work, "--out", results,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(os.cpu_count() or 1)]
    if a.break_op is not None:
        args += ["--break-op", str(a.break_op)]
    logfile = os.path.join(WORK, "logs", run_id + ".log")
    code = run_jvm(cp, args, logfile, max(1.0, deadline - time.monotonic() - CHECK_RESERVE_S))
    if code != 0 or not os.path.exists(results):
        with open(logfile) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit("benchmark runner exited with %d" % code)
    with open(results) as f:
        res = json.load(f)

    ops = res["ops"]
    run_errors = [res[k] for k in ("check_error",) if k in res]
    verdict = None
    if a.workload == "search_serving":
        with open(os.path.join(inputs, "requests.json")) as f:
            bad = checks.check_search(ops, inputs, json.load(f))
    elif a.workload == "asset_etl":
        bad = checks.check_etl(ops, res["oracle_sql"])
    elif a.workload == "asset_sync":
        bad = checks.check_sync(ops, manifest)
    else:
        bad, verdict = checks.check_library(ops, inputs, res["library_checks"])
    for o in ops:
        if o["op"] in bad:
            o["failed"] = bad[o["op"]]
    attempted, failed, rate, exit_code = stats.accounting(ops, bad, run_errors)

    metrics = end_to_end(a.workload, res, ops, gen_ms)
    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "cpus": res["cpus"], "gen_ms": gen_ms,
                "setup": res["setup"], "end_to_end": metrics,
                "detail": detail(a.workload, res, ops, manifest),
                "error_rate": rate, "attempted": attempted, "failed": failed,
                "failures": [{"op": o["op"], "key": o.get("key"), "phase": o["phase"],
                              "error": o.get("error") or o.get("failed")}
                             for o in ops if o.get("error") or o.get("failed")],
                "run_errors": run_errors,
                "ops": [{k: v for k, v in o.items() if k != "result"} for o in ops]}
    if verdict is not None:
        artifact["library_checks"] = verdict
    if a.trace:
        prof = layer_profile(res, ops)
        artifact["layers"] = prof
        artifact["traced_op_p50_ms"] = metrics["op_p50_ms"]["value"]
        artifact["spans"] = res["spans"]
        artifact["counts"] = res["counts"]
        metrics = per_layer(res, prof, gen_ms, ops)
        artifact["per_layer"] = metrics
    # paths in the artifact are relative to the checkout root
    text = json.dumps(artifact, indent=1, sort_keys=True, default=str)
    with open(os.path.join(WORK, "artifacts", run_id + ".json"), "w") as f:
        f.write(text.replace(ROOT + os.sep, ""))
    shutil.rmtree(inputs, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    for fl in artifact["failures"]:
        log("FAILED op %s (%s, %s): %s" % (fl["op"], fl["key"], fl["phase"], fl["error"]))
    correct = exit_code == 0
    if any(v["value"] is None for v in metrics.values()):
        correct, exit_code = False, 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return exit_code


if __name__ == "__main__":
    sys.exit(main())
