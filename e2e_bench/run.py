#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 e2e_bench/run.py --workload dashboard_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. Builds the program with the benchmark harness
(`e2e_bench/Makefile`), runs the workload in one JVM over the engine's sf0.01
test tables (`e2e_bench/data`), checks its outputs and prints one JSON line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`. See
`e2e_bench/README.md`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402

WORKLOADS = ("dashboard_mix", "batch_dags", "etl_ingest")
DATA = os.path.join(HERE, "data", "sf0.01")
CORES = 4           # local[CORES], shuffle partitions = CORES
HEAP = "2g"         # -Xms = -Xmx
YOUNG = "384m"      # fixed young generation, so RSS above it follows the old generation
SETUPS = 2          # set-ups per untraced run; setup_s is their median
RUN_BUDGET_S = 170  # a run ends within this many seconds after its build
ORACLE_RESERVE_S = 12


def spark_home():
    """The Spark distribution: $SPARK_HOME, else the one whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(spark_home(), "jars")
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}


def log(msg):
    print(f"[e2e_bench] {msg}", file=sys.stderr, flush=True)


def build(root, build_dir):
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("program sources (src/main/scala/graft) not found; run from the repository root")
        sys.exit(2)
    r = subprocess.run(["make", "-s", "-C", HERE, f"BUILD={build_dir}", f"SPARK_JARS={SPARK_JARS}"],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        log("build failed")
        sys.exit(2)
    return os.path.join(build_dir, "bench.jar")


def warm_page_cache(paths):
    for p in paths:
        with open(p, "rb") as f:
            while f.read(1 << 20):
                pass


def java_cmd(jar, work, archive, dump):
    cds = f"-XX:ArchiveClassesAtExit={archive}" if dump else f"-XX:SharedArchiveFile={archive}"
    opens = [a for o in ADD_OPENS for a in ("--add-opens", o)]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData", cds,
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j.configurationFile={HERE}/log4j2.properties"]
            + opens + ["-cp", f"{jar}:{SPARK_JARS}/*", "e2ebench.Main"])


def run_jvm(cmd, args, work, deadline):
    """Runs the JVM in `work`; exits the benchmark if it fails or is still
    running at `deadline` (a time.monotonic() value)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd + args, stdout=logf, stderr=logf, env=env)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        log(f"JVM exited with {rc}:\n{tail}")
        sys.exit(1)


def check_data(data_dir):
    """The input tables, as listed with their checksums in SHA256SUMS."""
    with open(os.path.join(data_dir, "SHA256SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    for digest, name in sums:
        with open(os.path.join(data_dir, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                log(f"input table {name} does not match SHA256SUMS")
                sys.exit(2)
    return [os.path.join(data_dir, name) for _, name in sums]


def class_archive(build_dir, jar, data_dir):
    """Class-data-sharing archive of the classes a short run loads, so every
    timed JVM starts from the same class-loading state."""
    archive = os.path.join(build_dir, "classes.jsa")
    if os.path.exists(archive) and os.path.getmtime(archive) >= os.path.getmtime(jar):
        return archive
    work = os.path.join(build_dir, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    run_jvm(java_cmd(jar, work, archive, dump=True),
            ["--workload", "dashboard_mix", "--data", data_dir, "--work", work, "--seed", "0",
             "--seconds", "0", "--trace", "0", "--cores", str(CORES), "--out", f"{work}/result.json"],
            work, time.monotonic() + 600)
    shutil.rmtree(work, ignore_errors=True)
    return archive


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--faults", default="",
                    help="op=throw|wrong,... makes those ops fail (benchmark self-test)")
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(".bench_build")
    jar = build(root, build_dir)
    data_dir = DATA
    warm_page_cache(glob.glob(f"{SPARK_JARS}/*.jar") + [jar] + check_data(data_dir))
    archive = class_archive(build_dir, jar, data_dir)
    deadline = time.monotonic() + RUN_BUDGET_S - ORACLE_RESERVE_S

    name = f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(build_dir, "work", name)
    shutil.rmtree(work, ignore_errors=True)

    def jvm_args(w, out, *extra):
        return ["--workload", a.workload, "--data", data_dir, "--work", w, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(CORES),
                "--out", out] + list(extra)

    # set-up alone, in fresh JVMs, before the measured run; setup_s is the
    # median over these and the measured run's own set-up
    setups = []
    for i in range(SETUPS - 1 if a.trace == 0 else 0):
        sw = os.path.join(build_dir, "work", f"{name}-setup{i}")
        shutil.rmtree(sw, ignore_errors=True)
        run_jvm(java_cmd(jar, sw, archive, dump=False),
                jvm_args(sw, f"{sw}/setup.json", "--setup-only", "1"), sw, deadline)
        with open(f"{sw}/setup.json") as f:
            setups.append(json.load(f)["setup_s"])
        shutil.rmtree(sw, ignore_errors=True)

    result_path = os.path.join(work, "result.json")
    extra = ["--faults", a.faults] if a.faults else []
    run_jvm(java_cmd(jar, work, archive, dump=False), jvm_args(work, result_path, *extra), work, deadline)
    with open(result_path) as f:
        res = json.load(f)

    # output checks; a failed check fails every sample of that op
    etl_root = os.path.join(work, "etl")
    bad_ops = {}
    if a.workload == "etl_ingest":
        probs = oracle.check_etl(etl_root, res)
        if probs:
            bad_ops["round"] = probs
    else:
        bad_ops = {k: v for k, v in oracle.check_gates(
            data_dir, res["checks"], os.path.join(build_dir, "oracle_cache")).items() if v}
    for op, probs in bad_ops.items():
        log(f"check failed for {op}: {'; '.join(probs[:3])}")
    samples = res["samples"]
    for s in samples:
        s["ok"] = s["ok"] and s["op"] not in bad_ops
        if s["error"]:
            log(f"{s['op']} (op {s['id']}) threw: {s['error'][:300]}")
    failed = sum(1 for s in samples if not s["ok"])
    correct = failed == 0

    def rate(phase, seconds):
        ok = [s for s in samples if s["phase"] == phase and s["ok"]]
        return len(ok) / seconds if seconds > 0 else 0.0

    loop = res["loop"]
    if a.trace == 0:
        metrics = {"setup_s": statistics.median(setups + [res["setup_s"]]), "first_pass_s": res["first_pass_s"],
                   "ops_per_s": rate("window", loop["window_s"]), "peak_rss_mb": res["peak_rss_mb"]}
        units = END_TO_END
    else:
        metrics, units = layer_metrics(a, res, samples, failed, etl_root, work)
    print(json.dumps({"correct": correct, "attempted": len(samples), "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


def layer_metrics(a, res, samples, failed, etl_root, work):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    layers = res["layers"]
    loop = res["loop"]
    lat = [s["latency_s"] for s in samples if s["phase"] == "untraced" and s["ok"]]
    untraced = sum(1 for s in samples if s["phase"] == "untraced" and s["ok"]) / loop["untraced_s"]
    traced = sum(1 for s in samples if s["phase"] == "traced" and s["ok"]) / loop["traced_s"]
    m = {k: layers.get(k, 0.0) for k in units}
    m.update({
        "Graft.session_ms": res["session_ms"],
        "jvm.heap_peak_mb": res["heap_peak_mb"],
        "p50_s": statistics.median(lat) if lat else 0.0,
        "p90_s": percentile(lat, 90) if lat else 0.0,
        "latency_samples": len(lat),
        "failed_frac": failed / len(samples),
        "trace.overhead_frac": 1.0 - traced / untraced if untraced > 0 else 0.0,
        "SparkEntry.leaked_tmp_dirs": len(glob.glob(os.path.join(work, "tmp", "graft_*"))),
    })
    if a.workload == "etl_ingest":
        traced_ids = {s["id"] for s in samples if s["phase"] in ("cold", "traced")}
        scope = [r for r in res["rounds"] if r["op_id"] in traced_ids]
        incoming, loaded = oracle.etl_counts(etl_root, res, {r["round"] for r in scope})
        raw = sum(r["raw_bytes"] for r in scope)
        written = sum(r["processed_bytes"] + r["error_bytes"] + r["gold_bytes_written"] for r in scope)
        bad = {p for r in res["rounds"] for p in r["corrupted"]}
        valid_raw = sum(os.path.getsize(f) for f in glob.glob(os.path.join(etl_root, "S3/raw/batch_*/*"))
                        if os.path.relpath(f, etl_root) not in bad)
        m.update({
            "Etl.files_landed": sum(r["files_landed"] for r in scope),
            "Etl.files_errored": sum(r.get("breaker_errors", 0) for r in scope),
            "Etl.rows_incoming": incoming,
            "Etl.rows_loaded": loaded,
            "Etl.partitions_rewritten": sum(r["partitions_rewritten"] for r in scope),
            "Etl.bytes_written": written,
            "write_amp": written / raw if raw else 0.0,
            "space_amp": res["gold_bytes_final"] / valid_raw if valid_raw else 0.0,
        })
    return m, units


if __name__ == "__main__":
    main()
