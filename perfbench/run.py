#!/usr/bin/env python3
"""The repo's benchmark: one closed-loop client drives seeded workloads
through `SparkEntry.queries` and the `graft.api.Upsert` write path, checks
every answer against the DuckDB oracle, and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness (sbt, offline) and generates the data fixture with graft.ScaleGen; both are kept under
.bench_build/. Each run gets a fresh directory there (cwd, warehouse, Spark
local dirs, data versions, answers), deleted at the end; its artifact is
kept in .bench_build/artifacts/. With --trace 0 the result carries the
end-to-end metrics, with --trace 1 the per-layer metrics.
"""
import argparse
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import workload  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # per run, after the one-time build and fixture work
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the build resolves nothing over the network: an environment that has not
# configured sbt gets offline mode
SBT_ENV = {"COURSIER_MODE": "offline", "SBT_OPTS": "-Dsbt.offline=true"}
# A calibration reading this much above the run's first one flags its window.
CAL_DRIFT = 0.20


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """Driver heap from MemTotal, the way the repo's test command sizes
    SPARK_DRIVER_MEM: half of RAM, 2 to 8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def source_stamp():
    """Fingerprint of every file the build reads, to rebuild when one changes."""
    paths = [os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        paths += [os.path.join(d, f) for d, _, files in os.walk(top) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime}".encode())
    return h.hexdigest()


def build():
    """Compiles the repo's src/main with the harness; returns the classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    log("building program and harness with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env={**SBT_ENV, **os.environ}, capture_output=True, text=True, timeout=850)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def java(classpath, main, args, cwd, env, timeout):
    cmd = ["java", f"-Xmx{heap()}", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    with open(os.path.join(cwd, f"{main.split('.')[-1]}.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, env={**os.environ, **env}, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except BaseException as e:  # a timeout, or SIGTERM/^C on this process
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise SystemExit(f"{main} did not finish within {timeout:.0f} s") from None
            raise


# ---------------------------------------------------------------- fixtures

def table_digest(path):
    """Row count and an order-independent content checksum of one table."""
    con = oracle.duckdb.connect()
    rel = f"SELECT * FROM read_parquet({oracle.scan(path)})"
    cols = [d[0] for d in con.execute(f"DESCRIBE {rel}").fetchall()]
    row = ", ".join(f'"{c}"' for c in cols)
    n, s = con.execute(f"SELECT count(*), sum(hash({row})::HUGEINT) FROM ({rel})").fetchone()
    return [n, str(s)]


def verify_fixture(name, data_dir):
    """Aborts unless every table matches the row count and checksum pinned
    in fixtures.json. A passing check is remembered per directory state."""
    with open(os.path.join(HERE, "fixtures.json")) as f:
        pinned = json.load(f)[name]
    state = [[t, os.path.getmtime(os.path.join(data_dir, f"{t}.parquet"))] for t in sorted(pinned)]
    ok_file = os.path.join(WORK, f"fixture-{name}.ok")
    if os.path.exists(ok_file):
        with open(ok_file) as f:
            if json.load(f) == state:
                return
    for t, want in pinned.items():
        got = table_digest(os.path.join(data_dir, f"{t}.parquet"))
        if got != want:
            raise SystemExit(f"fixture {name} table {t}: rows/checksum {got} != pinned {want}")
    with open(ok_file, "w") as f:
        json.dump(state, f)


def fixture(classpath):
    """The base data: graft.ScaleGen at multiplier 1 (the sf0.1 row counts
    and value domains), generated once per checkout outside any timed run
    and checked against its pinned identity before every run."""
    base = os.path.join(WORK, "x1-base")
    if not os.path.isdir(base):
        log("generating the fixture with graft.ScaleGen")
        tmp = base + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        env = {"SPARK_GRAFT_CPUS": str(os.cpu_count()), "SPARK_LOCAL_DIRS": os.path.join(tmp, "local")}
        if java(classpath, "graft.ScaleGen", [os.path.join(tmp, "data"), "1"], tmp, env, 600):
            raise SystemExit("ScaleGen failed")
        os.rename(os.path.join(tmp, "data"), base)
        shutil.rmtree(tmp)
    verify_fixture("x1", base)
    return base


# ---------------------------------------------------------------- metrics

def quantile(values, p):
    """Harrell-Davis estimate of the p-quantile of `values`: the mean of the
    sorted values weighted by the Beta((n+1)p, (n+1)(1-p)) distribution.
    A run holds one call of each query per cycle, and a single order
    statistic jumps between queries of different cost when two runs differ
    a little; the weighted mean moves smoothly."""
    v = sorted(values)
    n = len(v)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    if b <= 0:  # p = 1: no samples beyond, the maximum
        return v[-1]
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    acc = mass = 0.0
    steps = 4000  # midpoint rule over the Beta density
    for j in range(steps):
        x = (j + 0.5) / steps
        d = math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)
        if d > 0:
            acc += d * v[int(x * n)]
            mass += d
    return acc / mass


def latency(calls, kind):
    """(p50, tail, tail percentile, n) of the latencies of `kind` calls; a
    failed call's latency is +inf. The tail is the quantile at the highest
    percentile with at least min(10, n/4) calls beyond it."""
    lat = [c["latency_s"] if c["ok"] else math.inf for c in calls if c["kind"] == kind]
    n = len(lat)
    k = n - min(10, n // 4)
    return quantile(lat, 0.5), quantile(lat, k / n), round(100.0 * k / n, 1), n


def finite(x):
    """JSON has no infinity; a failed call's +inf is reported as 1e9."""
    return x if math.isfinite(x) else 1e9


def summarize(calls, harness, trace):
    """Result metrics plus the artifact summary of one run. Each call has
    `ok` set by the oracle check; a failed call enters latency as +inf."""
    window_min = harness["window_s"] / 60.0
    reads_ok = sum(1 for c in calls if c["ok"] and c["kind"] != "write")
    cal = [c["scalar_s"] for c in harness["calibration"]]
    e2e, detail = {}, {}
    for kind in ("first", "repeat"):
        p50, t, pct, n = latency(calls, kind)
        e2e[f"{kind}_call_p50_s"] = finite(p50)
        e2e[f"{kind}_call_tail_s"] = finite(t)
        detail[f"{kind}_call_tail"] = {"percentile": pct, "n": n}
    p50, _, _, detail["write_n"] = latency(calls, "write")
    e2e["write_p50_s"] = finite(p50)
    e2e["calls_per_min"] = reads_ok / window_min
    e2e["setup_s"] = harness["setup_s"]
    e2e["peak_storage_mb"] = max(c["storage_mb"] for c in calls)
    failed = sum(1 for c in calls if not c["ok"])
    detail["failed_frac"] = failed / len(calls)
    detail["windows"] = [
        {"after_call": c["after_call"], "scalar_s": c["scalar_s"],
         "contended": c["scalar_s"] > cal[0] * (1 + CAL_DRIFT)}
        for c in harness["calibration"]]
    if not trace:
        return e2e, detail
    return layer_metrics(calls, cal), detail


def layer_metrics(calls, cal):
    """Per-layer metrics of a traced run: each layer count as a mean per
    call, the worst stage skew, the memo outcomes and the contention gauge."""
    n = len(calls)
    out = {k: sum(c["layers"][k] for c in calls) / n for k in calls[0]["layers"]}
    out["executor.skew_max"] = max(c["layers"]["executor.skew_max"] for c in calls)
    out["memo.storage_mb"] = statistics.mean(c["storage_mb"] for c in calls)
    out["memo.cached_relations"] = statistics.mean(c["cached_relations"] for c in calls)
    # a repeat served from memo still reads footers and listings, so "free"
    # means under a tenth of the bytes its first call scanned
    first = {(c["round"], c["name"]): c["layers"]["sources.scan_mb"]
             for c in calls if c["kind"] == "first"}
    repeats = [c for c in calls if c["kind"] == "repeat"]
    out["memo.scan_free_frac"] = sum(
        1 for c in repeats
        if c["layers"]["sources.scan_mb"] <= 0.1 * first[(c["round"], c["name"])]) / len(repeats)
    out["host.cal_scalar_s"] = statistics.median(cal)
    return out


def per_kind(calls):
    """Per-layer sums per call kind, for the artifact."""
    out = {}
    for kind in ("first", "repeat", "write"):
        ks = [c for c in calls if c["kind"] == kind]
        if ks and "layers" in ks[0]:
            out[kind] = {k: sum(c["layers"][k] for c in ks) for k in ks[0]["layers"]}
            out[kind]["calls"] = len(ks)
    return out


def tracing_overhead(name, seed, calls):
    """Traced vs untraced median call latency, against the untraced artifact
    of the same workload and seed when one exists."""
    untraced = os.path.join(WORK, "artifacts", f"{name}-s{seed}-t0.json")
    if not os.path.exists(untraced):
        return None
    with open(untraced) as f:
        base = statistics.median(c["latency_s"] for c in json.load(f)["calls"])
    traced = statistics.median(c["latency_s"] for c in calls)
    return {"untraced_p50_s": base, "traced_p50_s": traced, "frac": traced / base - 1}


def with_units(metrics, kind):
    """The metrics BENCHMARK.json lists under `kind`, with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    missing = [m["name"] for m in spec if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    return {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec}


# ---------------------------------------------------------------- run

def check_calls(calls, rounds, oracle_sql):
    """Sets ok/why on every call: no error and the oracle agrees."""
    readers = {}
    for c in calls:
        vdir, write, _ = rounds[c["round"] - 1]
        why = c["error"]
        if why is None and c["kind"] == "write":
            why = oracle.check_write(*write)
        elif why is None:
            if vdir not in readers:
                readers[vdir] = oracle.ReadOracle(vdir, oracle_sql)
            why = readers[vdir].check(c["name"], c["out"])
        c["ok"] = why is None
        c["why"] = why


def inject_wrong(call):
    """Adds a copy of the answer's first row: a wrong answer, as a program
    defect would leave it."""
    src = oracle.scan(call["out"])
    oracle.duckdb.connect().execute(
        f"COPY (SELECT * FROM read_parquet({src}) LIMIT 1) "
        f"TO '{call['out']}/injected.parquet' (FORMAT PARQUET)")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workload.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", type=int, default=0, metavar="CALL",
                    help="self-test: corrupt the answer of this call before the check")
    a = ap.parse_args(argv)
    # SIGTERM unwinds like ^C, so the JVM child is killed and the run dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("program sources not found: run from the root of a checkout")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    data_dir = fixture(classpath)
    # the one-time build and fixture work above is outside the per-run limit
    t_start = time.time()

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # more cycles than any window holds: a cycle takes over 10 s
        warm_writes, rounds = workload.make_plan(a.workload, a.seed, run_dir, data_dir,
                                                 math.ceil(a.seconds / 10) + 1)
        out = os.path.join(run_dir, "out")
        os.makedirs(out)
        env = {"SPARK_LOCAL_DIRS": os.path.join(run_dir, "local")}
        t_harness = time.time()
        left = RUN_LIMIT_S - (t_harness - t_start) - 15
        if java(classpath, "perfbench.Harness",
                [os.path.join(run_dir, "plan.tsv"), out, str(a.seconds), str(a.trace)],
                run_dir, env, left):
            with open(os.path.join(run_dir, "Harness.log")) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            raise SystemExit("harness failed")
        with open(os.path.join(out, "harness.json")) as f:
            harness = json.load(f)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        with open(os.path.join(out, "calls.jsonl")) as f:
            calls = [json.loads(line) for line in f if line.strip()]
        if a.inject_wrong:
            inject_wrong(next(c for c in calls if c["call"] == a.inject_wrong))
        t_check = time.time()
        # the set-up writes are untimed, but the timed versions build on them
        setup_why = next(filter(None, (oracle.check_write(*w) for w in warm_writes)), None)
        check_calls(calls, rounds, oracle_sql)
        log(f"harness {t_check - t_harness:.1f} s, oracle check {time.time() - t_check:.1f} s")
        metrics, detail = summarize(calls, harness, a.trace)
        failed = [c for c in calls if not c["ok"]]
        artifact = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cpus": harness["cpus"], "heap": heap(), "window_s": harness["window_s"],
            "session_s": harness["session_s"], "warm_calls": harness["warm"],
            "metrics": with_units(metrics, "per_layer" if a.trace else "end_to_end"),
            **detail,
            "setup_write_why": setup_why,
            "failed_calls": [{"call": c["call"], "name": c["name"], "kind": c["kind"],
                              "why": c["why"]} for c in failed],
            "per_kind": per_kind(calls),
            "calls": calls,
        }
        if a.trace:
            artifact["spans"] = harness["spans"]
            artifact["tracing_overhead"] = tracing_overhead(a.workload, a.seed, calls)
        os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
        art = os.path.join(WORK, "artifacts", f"{a.workload}-s{a.seed}-t{a.trace}.json")
        with open(art, "w") as f:
            json.dump(artifact, f)
        for c in failed:
            log(f"FAILED call {c['call']} {c['kind']} {c['name']}: {c['why']}")
        if setup_why:
            log(f"FAILED set-up write of {warm_writes[0][0]}: {setup_why}")
        log(f"artifact {art}, run {time.time() - t_start:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not failed and not setup_why, "attempted": len(calls), "failed": len(failed),
        "metrics": artifact["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
