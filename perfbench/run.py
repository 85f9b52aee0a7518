#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the program from source (see
``build.py``), generates the workload's inputs from ``--seed``, runs the
workload in one pinned Spark JVM for ``--seconds``, checks the outputs,
and prints one JSON line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run. The full record of the last run of each
workload (environment, set-up phases, checks, raw counters) is kept in
``.bench_build/perfbench/last/``. See README.md for the workloads and
metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

CORES = 2          # local[N]; N is also capped by nproc
HEAP = "1g"        # -Xmx of the benchmark JVM
GEN_REPS = 3       # input generation is repeated; the median is set-up time
RUN_BUDGET_S = 170  # a run, after any build, must end within 180 s

# Workload parameters, passed to the JVM as --p.<key> <value>.
PARAMS = {
    "query_mix": {"zipf_s": 1.5, "pass_size": 8, "warmup_passes": 2, "min_requests": 20},
    "corpus_prep": {"n_distinct": 6000, "exact_frac": 0.1, "near_frac": 0.1,
                    "n_files": 4, "warmup_audits": 5, "audits_per_iter": 20,
                    "shard_size": 1000, "min_requests": 20},
    "index_ingest": {"n_base": 1000, "docs_per_file": 20, "n_files": 6,
                     "files_per_s": 0.3, "compact_at": 4, "zipf_s": 1.0,
                     "warmup_searches": 5, "min_requests": 20},
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Environment that would change what is measured; removed from the JVM's
# environment and recorded when seen.
SCRUB_PREFIXES = ("SPARK_GRAFT_",)
SCRUB = ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_DRIVER_MEM", "JAVA_TOOL_OPTIONS",
         "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")


def spec():
    """The metric catalogue: BENCHMARK.json beside this directory."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def generate(workload, seed, inp):
    """Write the workload's inputs under `inp`; returns facts the JVM and
    the checks need."""
    p = PARAMS[workload]
    if workload == "query_mix":
        gen.tpch(os.path.join(inp, "tables"), seed, sf=0.01)
        return {}
    if workload == "corpus_prep":
        truth = gen.corpus(os.path.join(inp, "corpus"), seed, p["n_distinct"],
                           p["exact_frac"], p["near_frac"], p["n_files"])
        with open(os.path.join(inp, "near_ids.txt"), "w") as fh:
            fh.write("\n".join(str(i) for i in truth["near_copy_ids"]) + "\n")
        return {"n_docs": truth["n_docs"], "n_distinct": truth["n_distinct"]}
    if workload == "index_ingest":
        gen.ingest(inp, seed, p["n_base"], p["n_files"], p["docs_per_file"])
        return {}
    raise ValueError(workload)


def source_id():
    """Git SHA when the checkout is a git work tree; else None."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10, cwd=os.path.dirname(HERE))
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def scrubbed_env():
    return {k: v for k, v in os.environ.items()
            if not k.startswith(SCRUB_PREFIXES) and k not in SCRUB}


def java_cmd(work, share):
    """The benchmark JVM's command up to its main class, with every
    directory it writes under `work`; `share` is its class-data option."""
    props = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "derby.system.home": os.path.join(work, "derby"),
    }
    os.makedirs(props["java.io.tmpdir"], exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", share]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    return cmd + ["-cp", build.classpath(), "perfbench.Main"]


def main_args(workload, seed, seconds, trace, inp, work, out):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(min(CORES, os.cpu_count() or 1)),
            "--input", inp, "--work", work, "--out", out]


def record_archive(runs):
    """Once per build, record the classes a session start loads into a
    class-data archive (AppCDS); every later JVM maps them from it instead
    of loading them one by one. This is part of the build, not of any
    run's set-up. Without an archive the runs still work, only slower to
    start; the record says which."""
    if os.path.exists(build.ARCHIVE):
        return
    work = os.path.join(runs, f"archive-{os.getpid()}")
    os.makedirs(work)
    tmp = build.ARCHIVE + ".tmp"
    try:
        cmd = java_cmd(work, f"-XX:ArchiveClassesAtExit={tmp}")
        cmd += main_args("session", 0, 0, 0, work, work, os.path.join(work, "result.json"))
        r = subprocess.run(cmd, cwd=work, env=scrubbed_env(), stdout=sys.stderr,
                           stderr=sys.stderr, timeout=RUN_BUDGET_S)
        if r.returncode == 0 and os.path.exists(tmp):
            os.replace(tmp, build.ARCHIVE)
        else:
            log(f"no class-data archive (the session JVM exited with {r.returncode})")
    except subprocess.TimeoutExpired:
        log("no class-data archive (the session JVM ran past its time budget)")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(tmp):
            os.remove(tmp)


def run_jvm(workload, seed, seconds, trace, inp, work, facts, deadline):
    out = os.path.join(work, "result.json")
    archived = os.path.exists(build.ARCHIVE)
    share = f"-XX:SharedArchiveFile={build.ARCHIVE}" if archived else "-Xshare:auto"
    cmd = java_cmd(work, share) + main_args(workload, seed, seconds, trace, inp, work, out)
    params = dict(PARAMS[workload], **facts)
    for k, v in params.items():
        cmd += [f"--p.{k}", str(v)]
    env = scrubbed_env()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("the benchmark JVM ran past its time budget")
    if not os.path.exists(out):
        raise RuntimeError(f"the benchmark JVM exited with {code} and no result")
    with open(out) as fh:
        rec = json.load(fh)
    rec["seen_overrides"] = {k: v for k, v in os.environ.items()
                             if k.startswith(SCRUB_PREFIXES) or k in SCRUB}
    rec["env"]["class_data_archive"] = archived
    if code != 0:
        raise RuntimeError(f"the benchmark JVM exited with {code}")
    return rec


def end_to_end(workload, rec, setup_s, facts):
    s, v = rec["samples"], rec["values"]
    q = s.get("query_ms", [])
    if workload == "query_mix":
        throughput = v["requests"] / v["wall_s"]
    elif workload == "corpus_prep":
        # documents prepared per second over all timed iterations
        throughput = len(s["prepare_s"]) * facts["n_docs"] / sum(s["prepare_s"])
    else:
        throughput = v["docs_per_s"]
    return {
        "setup_s": setup_s,
        "query_p50_ms": stats.percentile(q, 50),
        "throughput_per_s": throughput,
        "peak_rss_mb": v["peak_rss_mb"],
    }


def per_layer(workload, rec):
    layers = dict(rec["layers"])
    v, s = rec["values"], rec["samples"]
    untraced = os.path.join(build.OUT, "last", f"{workload}.trace0.json")
    if os.path.exists(untraced):
        # the traced run's median request against the last untraced run's
        with open(untraced) as fh:
            base = stats.median(json.load(fh)["samples"]["query_ms"])
        layers["trace.p50_vs_untraced"] = stats.median(s["query_ms"]) / base - 1.0
    if workload == "index_ingest":
        lag = s.get("lag_ms", [])
        layers["ingest.lag_p50_ms"] = stats.median(lag)
        layers["ingest.lag_max_ms"] = max(lag)
        layers["ingest.files"] = v["files"]
        layers["ingest.write_amp"] = v["write_amp"]
        layers["ingest.space_amp"] = v["space_amp"]
    return {m["name"]: float(layers.get(m["name"], 0.0)) for m in spec()["per_layer"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        _, stamp = build.build()
    except RuntimeError as e:
        log(f"build failed: {e}")
        return 2
    runs = os.path.join(build.OUT, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # debris of an interrupted run
    record_archive(runs)
    deadline = time.monotonic() + RUN_BUDGET_S
    work = os.path.join(runs, f"{a.workload}-{os.getpid()}")
    inp = os.path.join(work, "input")
    os.makedirs(inp)
    try:
        gen_times = []
        for _ in range(GEN_REPS):
            t0 = time.monotonic()
            shutil.rmtree(inp)
            os.makedirs(inp)
            facts = generate(a.workload, a.seed, inp)
            gen_times.append(time.monotonic() - t0)
        rec = run_jvm(a.workload, a.seed, a.seconds, a.trace, inp, work, facts, deadline)
        setup = dict(rec["setup"], generate_s=stats.median(gen_times))
        setup_s = sum(setup.values())
        failed = int(rec["failed"])
        attempted = int(rec["attempted"])
        checks = list(rec["checks"])
        if a.workload == "query_mix":
            import oracle  # DuckDB is only needed here
            with open(os.path.join(work, "results", "counts.json")) as fh:
                counts = json.load(fh)
            verdicts = oracle.oracle_compare(os.path.join(inp, "tables"),
                                             os.path.join(work, "results"))
            for name, count in counts.items():
                why = verdicts.get(name, "no result recorded")
                checks.append({"name": f"oracle:{name}", "ok": why is None,
                               "detail": why or ""})
                if why is not None:
                    log(f"oracle mismatch {name}: {why}")
                    failed += count
        record = dict(rec, setup=setup, setup_s=setup_s, checks=checks,
                      seed=a.seed, seconds=a.seconds, source=source_id(),
                      build_stamp=stamp, failed=failed,
                      failed_frac=failed / max(attempted, 1))
        last = os.path.join(build.OUT, "last")
        os.makedirs(last, exist_ok=True)
        spans = os.path.join(work, f"{a.workload}.spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(last, f"{a.workload}.spans.jsonl"))
        try:
            if a.trace:
                out_metrics = per_layer(a.workload, rec)
            else:
                out_metrics = end_to_end(a.workload, rec, setup_s, facts)
            record["metrics"] = out_metrics
        finally:
            with open(os.path.join(last, f"{a.workload}.trace{a.trace}.json"), "w") as fh:
                json.dump(record, fh, indent=1)
    except (RuntimeError, stats.TooFewSamples, KeyError, OSError) as e:
        log(f"run failed: {e!r}")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    catalogue = spec()
    units = {m["name"]: m["unit"] for m in catalogue["end_to_end"] + catalogue["per_layer"]}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out_metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
