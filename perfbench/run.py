#!/usr/bin/env python3
"""The repository benchmark: one workload run, end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark driver from source (once per source
fingerprint), generates the workload's inputs from the seed, runs the
closed loop in one JVM on `local[<cores>]`, checks every output against its
DuckDB oracle, and prints one JSON object as the last line of stdout. With
`--trace 0` it carries the end-to-end metrics, with `--trace 1` the
per-layer ones. Progress and a human summary go to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# Run budget: a run (build excluded) must end well inside 180 s.
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def fingerprint():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the Spark installation whose bin/ holds the first
    spark-submit on PATH that sits next to a jars/ directory (a pip-installed
    pyspark puts a spark-submit on PATH without one)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    fail("no Spark installation: set SPARK_HOME")


def build_env():
    """sbt resolves from local caches only (there is no network to fall back
    to), and finds the Spark jars through SPARK_HOME."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    fp = fingerprint()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    log("perfbench: building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=build_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        log(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1].strip()}, f)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return lines[-1].strip()


def run_jvm(cp, args, work, spec, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.sql.session.timeZone=UTC", "-Dderby.stream.error.file=" +
           os.path.join(work, "derby.log")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--data", os.path.join(work, "data"), "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if "steady" in spec:
        cmd += ["--steady", ",".join(spec["steady"]), "--lifecycle", ",".join(spec["lifecycle"])]
    if "hot_rewrite_every" in spec:
        cmd += ["--hot-every", str(spec["hot_rewrite_every"])]
    if args.inject:
        cmd += ["--inject", args.inject]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM did not finish within {timeout:.0f} s", 3)
    if code != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        fail(f"the JVM exited with {code}", 3)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ----------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """Interpolated 90th percentile."""
    xs = sorted(xs)
    pos = 0.9 * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(xs):
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it;
    p90 (interpolated) when no percentile has ten. Returns (value, pct)."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99, 95, 90, 75):
        k = int(n * p / 100)
        if n - k - 1 >= 10:
            return xs[k], p
    return p90(xs), 90


def entry_s(e):
    return e["build_s"] + e["exec_s"]


def batch_metrics(res, spec, fams, traced):
    passes = res["passes"]
    plain = [p for p in passes if not p["traced"]]
    tr = [p for p in passes if p["traced"]]

    def cohort_s(ps, lifecycle):
        """Sum over the cohort's entries of each entry's median over passes:
        a burst that slows one entry in one pass drops out."""
        times = {}
        for p in ps:
            for e in p["entries"]:
                if e["lifecycle"] == lifecycle:
                    times.setdefault(e["name"], []).append(entry_s(e))
        return sum(median(xs) for xs in times.values())

    def pass_ms(ps):
        return [p["wall_s"] * 1000 for p in ps]

    def tail_pass_ms(ps):
        """A run has too few passes for a tail of pass times, so the tail
        pass is built per entry: each entry's p90 over the passes, plus the
        median time a pass spends between entries."""
        times = {}
        for p in ps:
            for e in p["entries"]:
                times.setdefault(e["name"], []).append(entry_s(e))
        glue = median([p["wall_s"] - sum(entry_s(e) for e in p["entries"]) for p in ps])
        return 1000 * (sum(p90(xs) for xs in times.values()) + glue)

    # a batch workload's closed-loop round is one pass over its entries
    base = plain if plain else passes
    e2e = {"steady_s": cohort_s(base, False), "lifecycle_s": cohort_s(base, True)}
    e2e["tick_p50_ms"] = median(pass_ms(base))
    e2e["tick_tail_ms"], e2e["tail_pct"] = tail_pass_ms(base), 90
    e2e["samples"] = len(base)
    if not traced:
        return e2e, {}

    layer = {"queries.build_s": median([sum(e["build_s"] for e in p["entries"] if not e["lifecycle"]) for p in tr]),
             "queries.exec_s": median([sum(e["exec_s"] for e in p["entries"] if not e["lifecycle"]) for p in tr])}
    per_entry = {}
    for p in tr:
        for e in p["entries"]:
            per_entry.setdefault(e["name"], []).append(entry_s(e))
    for name, xs in per_entry.items():
        layer[f"queries.{name}_s"] = median(xs)
    for fam, members in fams.items():
        layer[fam] = sum(median(per_entry[m]) for m in members if m in per_entry)
    layer.update(counter_metrics([p["counters"] for p in tr]))
    if layer["streaming.batches"] > 0:
        stream_entries = set(fams["streaming.entries_s"])
        stream_wall = median([sum(entry_s(e) for e in p["entries"] if e["name"] in stream_entries)
                              for p in tr])
        layer["streaming.lifecycle_gap_s"] = stream_wall - layer["streaming.batch_ms"] / 1000
    layer["trace.overhead_steady_s"] = trace_overhead(
        passes, lambda p: sum(entry_s(e) for e in p["entries"] if not e["lifecycle"]))
    layer["trace.overhead_tick_ms"] = trace_overhead(passes, lambda p: p["wall_s"] * 1000)
    return e2e, layer


def trace_overhead(rounds, value):
    """Mean over traced rounds of the round's value minus the mean of its
    untraced neighbours: rounds alternate, so a warm-up trend cancels."""
    diffs = [value(rounds[k]) - (value(rounds[k - 1]) + value(rounds[k + 1])) / 2
             for k in range(1, len(rounds) - 1) if rounds[k]["traced"]]
    return statistics.mean(diffs) if diffs else 0.0


def counter_metrics(cs):
    """Per-pass means of the Spark listener counters over traced passes."""
    n = max(1, len(cs))

    def avg(k, scale=1.0):
        return sum(c.get(k, 0) for c in cs) / n * scale

    busy = avg("job_busy_ms", 1e-3)
    return {
        "spark.analysis_ms": avg("analysis_ms"), "spark.optimization_ms": avg("optimization_ms"),
        "spark.planning_ms": avg("planning_ms"), "spark.jobs": avg("jobs"), "spark.tasks": avg("tasks"),
        "spark.job_busy_s": busy, "spark.driver_gap_s": avg("wall_ms", 1e-3) - busy,
        "spark.scan_rows": avg("scan_rows"), "spark.scan_bytes": avg("scan_bytes"),
        "spark.shuffle_write_bytes": avg("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": avg("shuffle_read_bytes"), "spark.spill_bytes": avg("spill_bytes"),
        "spark.executor_cpu_s": avg("executor_cpu_ns", 1e-9), "spark.gc_s": avg("gc_ms", 1e-3),
        "streaming.batches": avg("stream_batches"), "streaming.batch_ms": avg("stream_batch_ms"),
        "streaming.state_rows": avg("state_rows"), "streaming.state_bytes": avg("state_bytes"),
    }


def runner_metrics(res, spec, traced):
    ticks = res["ticks"]
    plain = [t for t in ticks if not t["traced"]]
    tr = [t for t in ticks if t["traced"]]
    base = plain if plain else ticks

    def jobs_ms(t):
        return sum(j["job_ms"] for j in t["jobs"])

    e2e = {"steady_s": median([jobs_ms(t) / 1000 for t in base]),
           "lifecycle_s": median([(t["tick_ms"] - jobs_ms(t)) / 1000 for t in base]),
           "tick_p50_ms": median([t["tick_ms"] for t in base])}
    e2e["tick_tail_ms"], e2e["tail_pct"] = tail([t["tick_ms"] for t in base])
    e2e["samples"] = len(base)
    if not traced:
        return e2e, {}

    def per_job(t, script):
        return sum(j["job_ms"] for j in t["jobs"] if j["path"].endswith("/" + script))

    # the engine's own timers run in every tick; listener counters only in traced ones
    layer = {
        "engine.ready_ms": median([t["ready_ms"] / max(1, t["ready_calls"]) for t in ticks]),
        "engine.journal_save_ms": median([t["save_ms"] / max(1, len(t["jobs"])) for t in ticks]),
        "engine.journal_files": median([t["journal_files"] for t in ticks]),
        "engine.compile_ms": statistics.mean([t["compile_ms"] for t in ticks]),
        "engine.tick_self_ms": median([t["tick_ms"] - t["ready_ms"] - t["save_ms"] - jobs_ms(t)
                                       for t in ticks]),
    }
    for script, name in spec["jobs"].items():
        layer[name] = median([per_job(t, script) for t in ticks])
    probe = res.get("ready_probe", [])
    if probe:
        xs = [p["files"] for p in probe]
        ys = [p["ready_ms"] for p in probe]
        mx, my = statistics.mean(xs), statistics.mean(ys)
        sxx = sum((x - mx) ** 2 for x in xs)
        layer["engine.ready_ms_per_1k_files"] = 1000 * sum(
            (x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0
        layer["engine.ready_ms_empty_journal"] = ys[0]
        layer["engine.ready_ms_full_history"] = ys[-1]
    layer.update(counter_metrics([t["counters"] for t in tr]))
    layer["trace.overhead_steady_s"] = trace_overhead(ticks, lambda t: jobs_ms(t) / 1000)
    layer["trace.overhead_tick_ms"] = trace_overhead(ticks, lambda t: t["tick_ms"])
    return e2e, layer


# ----------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="", help="self-test: add throw/wrong entries")
    ap.add_argument("--entries", default="", help="run only these steady entries")
    args = ap.parse_args(argv)
    t_start = time.time()

    with open(os.path.join(HERE, "workloads.json")) as f:
        bench_spec = json.load(f)
    if args.workload not in bench_spec["workloads"]:
        fail(f"unknown workload {args.workload}")
    spec = dict(bench_spec["workloads"][args.workload])
    if args.entries:
        spec["steady"] = args.entries.split(",")
        spec["lifecycle"] = []
    cp = build()

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    gen.generate(args.workload, args.seed, work)
    gen_s = time.time() - t0
    log(f"perfbench: {args.workload} seed={args.seed} inputs generated in {gen_s:.2f} s")

    budget = JVM_TIMEOUT_S - (time.time() - t_start)
    res = run_jvm(cp, args, work, spec, budget)

    # correctness gate: errors in any pass plus oracle mismatches
    if "passes" in res:
        check = oracle.check_batch(work, res)
        e2e, layer = batch_metrics(res, spec, bench_spec["families"], args.trace == 1)
    else:
        check = oracle.check_runner(work, res)
        e2e, layer = runner_metrics(res, spec, args.trace == 1)
    for msg in check["messages"]:
        log(f"perfbench: {msg}")
    attempted, failed = check["attempted"], check["failed"]
    fail_ratio = failed / attempted if attempted else 1.0

    canary0, canary1 = res["canary_start_ms"], res["canary_end_ms"]
    noisy = abs(canary1 - canary0) / canary0 > canary_bound()
    log(f"perfbench: seed={args.seed} workload={args.workload} setup_s={res['setup_s']:.3f} "
        f"steady_s={e2e['steady_s']:.4f} lifecycle_s={e2e['lifecycle_s']:.4f} "
        f"tick_p50_ms={e2e['tick_p50_ms']:.1f} tick_tail_ms=p{e2e['tail_pct']}:{e2e['tick_tail_ms']:.1f} "
        f"(n={e2e['samples']}) fail_ratio={fail_ratio:.4f} ({failed}/{attempted}) "
        f"peak_rss_mb={res['peak_rss_mb']:.0f} gen_s={gen_s:.2f} "
        f"canary_ms={canary0:.2f}->{canary1:.2f}{' NOISY' if noisy else ''}")

    if args.trace == 0:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "steady_s": (e2e["steady_s"], "s"),
            "lifecycle_s": (e2e["lifecycle_s"], "s"),
            "tick_p50_ms": (e2e["tick_p50_ms"], "ms"),
            "tick_tail_ms": (e2e["tick_tail_ms"], "ms"),
            "ok_ratio": (1.0 - fail_ratio, "ratio"),
        }
    else:
        metrics = layer_metrics(layer, res, gen_s, fail_ratio, noisy)
    # the result line's keys are fixed, so the noise reading goes on the line before it
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host.canary_start_ms": canary0,
                      "host.canary_end_ms": canary1, "host.noisy": noisy}))
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))
    return out


def canary_bound():
    """The benchmark's own bound: the tightest one on an end-to-end time."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    return min(m["bound"] for m in e2e if m["unit"] in ("s", "ms"))


def layer_metrics(layer, res, gen_s, fail_ratio, noisy):
    """Every per-layer metric BENCHMARK.json names, in its order. A layer
    the workload never enters did no work and reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    extra = {"host.canary_start_ms": res["canary_start_ms"], "host.canary_end_ms": res["canary_end_ms"],
             "host.peak_rss_mb": res["peak_rss_mb"],
             "host.noisy": 1.0 if noisy else 0.0, "inputs.gen_s": gen_s, "fail_ratio": fail_ratio}
    rounds = len(res.get("passes", res.get("ticks", []))) or 1
    for k, v in res.get("self_s", {}).items():
        extra[f"self.{k}_s"] = v / rounds
    vals = {**layer, **extra}
    return {n: (float(vals.get(n, 0.0)), u) for n, u in units.items()}


if __name__ == "__main__":
    main()
